package graft.cep

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CEP pattern API — the reference's flink-cep surface
  * (flink-libraries/flink-cep/src/main/java/org/apache/flink/cep/pattern/
  * Pattern.java: begin/where/followedBy/notFollowedBy/times/within),
  * re-expressed as a compiler from a linear pattern spec to declarative
  * Spark plans instead of a per-event NFA
  * (flink-libraries/flink-cep/.../nfa/NFA.java).
  *
  * Semantics (matching flink-cep defaults for relaxed contiguity +
  * skip-till-next): every event matching the first step starts a candidate
  * match; each following step binds the EARLIEST event of the same key that
  * matches its predicate, is strictly after the previous binding, and falls
  * within `within` of the match start. A `times(n)` step binds n such events
  * in sequence. A terminal `notFollowedBy` requires NO matching event in the
  * remainder of the window.
  *
  * Scale: each step compiles to one keyed equi-join with a time-range
  * residual plus a min-aggregation — shuffles are on the key only, state is
  * never materialized per-NFA, and Catalyst/AQE optimize the whole pipeline
  * (broadcast small sides, skew-split hot keys). An NFA translation would
  * serialize per key; this stays embarrassingly parallel in the key space.
  */
final case class Step(name: String, pred: Column, reps: Int = 1,
                      opt: Boolean = false, oneOrMore: Boolean = false,
                      until: Option[Column] = None, keep: Seq[String] = Nil,
                      iter: Option[Column] = None, optTail: Int = 0,
                      alts: Seq[(String, Column)] = Nil, strict: Boolean = false,
                      runOn: Option[String] = None,
                      runAccept: Option[(Column, Column) => Column] = None,
                      consec: Boolean = false,
                      groupKeep: Seq[(String, String)] = Nil,
                      runOffset: Int = 1,
                      groupRows: Boolean = false,
                      tieCols: Seq[String] = Nil,
                      minRun: Int = 1,
                      anyBranch: Boolean = false,
                      combinations: Boolean = false,
                      maxComb: Int = 20,
                      innerOpt: Boolean = false,
                      // group at any depth (followedByGroup at depth 0,
                      // followedByNested{,2,3,N}Group above it): `inner2` is
                      // the INNERMOST sub-sequence and `closings` its
                      // closing-step levels in level order — closings(0)
                      // closes each LEVEL-1 repetition (the "mids"),
                      // closings(1) each level-2 repetition, ...,
                      // closings.last each OUTER repetition (the tails).
                      // Depth = closings.size >= 0; a step is a group iff
                      // `inner2` is non-empty.
                      inner2: Seq[(String, Column)] = Nil,
                      closings: Seq[Seq[(String, Column)]] = Nil,
                      tailRes: Seq[(String, String, String, Column)] = Nil,
                      innerRes: Seq[(String, String, String, Column)] = Nil)

final class Pattern private (steps: Vector[Step], notStep: Option[Step],
                             windowMs: Option[Long], skipPastLast: Boolean = false,
                             skipTo: Option[(String, Boolean)] = None) {

  def followedBy(name: String, pred: Column): Pattern = {
    require(notStep.isEmpty, "notFollowedBy must be the terminal step")
    new Pattern(steps :+ Step(name, pred), notStep, windowMs, skipPastLast, skipTo)
  }

  /** ALL-MATCHES branching — flink-cep `followedByAny()` (reference
    * flink-libraries/flink-cep/.../pattern/Pattern.java:322: relaxed
    * contiguity where EVERY in-window candidate forks a match branch, not
    * just the first — `a b1 b2` matches `(a,b1)` AND `(a,b2)`).
    *
    * This is the one reference combinator that steps OUTSIDE the engine's
    * one-deterministic-match-per-start convention, so it is an explicit
    * OPT-IN with its own compile path: a pattern using it must use it for
    * EVERY step after `begin` (mixed first-match/all-match branching is a
    * named rejection — the NFA interleaving has no declarative analog),
    * and [[detect]] then emits EVERY strictly-time-increasing chain
    * `a.ts < s1.ts < … < sn.ts ≤ a.ts + window` — a chain of keyed
    * interval joins, one per step: no NFA, no per-event state, output
    * bounded by the true match count (which is the combinatorial object
    * the user asked for). AfterMatchSkip/notFollowedBy do not compose
    * (they exist to PICK matches; this mode emits all of them). */
  def followedByAny(name: String, pred: Column): Pattern = {
    require(notStep.isEmpty, "followedByAny does not compose with notFollowedBy")
    require(steps.nonEmpty, "followedByAny() follows a begin step")
    require(steps.tail.forall(_.anyBranch),
      "followedByAny cannot mix with first-match steps — every step after " +
        "begin must be followedByAny (the all-branches NFA interleaving " +
        "has no deterministic declarative analog)")
    new Pattern(steps :+ Step(name, pred, anyBranch = true), notStep,
      windowMs, skipPastLast, skipTo)
  }

  /** ALL-COMBINATIONS runs — flink-cep `oneOrMore().allowCombinations()`
    * (reference Pattern.java:441: the looping state forks on every
    * candidate, so a run over members `b1 b2 b3` emits EVERY non-empty
    * ordered subset — `{b1}`, `{b1,b2}`, `{b1,b3}`, `{b1,b2,b3}`, …).
    * Opt-in, like [[followedByAny]]: the pattern must be
    * `begin(A).followedBy(B).oneOrMore().allowCombinations()` optionally
    * followed by PLAIN `followedBy` trailing steps (reference
    * Pattern.java:441 allows the toggle on any looping state — `A B+ C`
    * is the common shape; groups/quantifiers/iterative conditions on a
    * trailing step stay named rejections), then `.within(w)`. [[detect]]
    * emits one row per (start, subset) with the run columns
    * `<name>_n`/`<name>_first_ts`/`<name>_last_ts`; each trailing step
    * binds its FIRST in-window candidate strictly after the subset's
    * last member (flink-cep followedBy takes the first match per
    * branch), and subsets whose trailing chain cannot complete emit
    * nothing. The trailing bindings depend only on the subset's LAST
    * member, so they are computed once per (start, member) — O(m) rows
    * per start — and joined back to the 2^m subset rows, never chained
    * per subset.
    *
    * The 2^m − 1 subsets per start are the SEMANTICS, not an
    * implementation artifact — the reference NFA materializes the same
    * branches. The lowering is declarative (collect the ≤window member
    * list per start, explode a bitmask SPLIT into high and low halves —
    * the largest materialized per-row array is 2^⌈m/2⌉ ≈ 32 K entries at
    * the m = 30 ceiling, never the 2^m ≈ 8.6 GB a single sequence would
    * allocate — and filter members by bit) and refuses loudly past
    * `maxCombinationMembers` (default 20 ≈ 10⁶ subsets per start) rather
    * than letting a hot key detonate the cluster — the reference has no
    * such guard and simply blows up. */
  def allowCombinations(maxCombinationMembers: Int = 20): Pattern = {
    require(steps.size == 2 && steps.last.oneOrMore &&
      steps.last.inner2.isEmpty &&
      !steps.last.opt && !steps.last.consec &&
      steps.last.keep.isEmpty && steps.last.until.isEmpty &&
      steps.last.alts.isEmpty && steps.last.minRun == 1,
      "allowCombinations() requires the two-step begin(A) -> " +
        "followedBy(B).oneOrMore() shape (plain run: no zeroOrMore/" +
        "consecutive/bindRun/until/alternation/timesOrMore)")
    require(maxCombinationMembers >= 1 && maxCombinationMembers <= 30,
      s"maxCombinationMembers must be in [1, 30] (got $maxCombinationMembers)")
    new Pattern(steps.init :+ steps.last.copy(combinations = true,
      maxComb = maxCombinationMembers), notStep, windowMs, skipPastLast, skipTo)
  }

  /** flink-cep iterative condition (reference flink-libraries/flink-cep/src/
    * main/java/org/apache/flink/cep/pattern/conditions/IterativeCondition
    * .java:65, `ctx.getEventsForPattern`): the step's predicate may reference
    * PRIOR bindings — e.g. "purchase.value > 2 × signup.value". `pred` is the
    * plain per-event pre-filter (pushed into the candidate scan); `iterPred`
    * is the relative residual, built from [[Pattern.ev]] (the current
    * candidate's columns) and [[Pattern.bound]]/[[Pattern.boundTs]] (prior
    * bindings — the referenced step must [[bind]] the column). The residual
    * evaluates inside the step's keyed equi-join, so the plan stays an
    * equi-join with a filter, never a cross product. */
  def followedByIterative(name: String, pred: Column, iterPred: Column): Pattern = {
    require(notStep.isEmpty, "notFollowedBy must be the terminal step")
    new Pattern(steps :+ Step(name, pred, iter = Some(iterPred)), notStep, windowMs, skipPastLast, skipTo)
  }

  /** STRICT contiguity — flink-cep `next()` (reference flink-libraries/
    * flink-cep/.../pattern/Pattern.java#next: the step must match the
    * IMMEDIATELY following event, no gaps allowed). Adjacency is defined on
    * event TIME: the step binds only at the earliest event time strictly
    * after the previous binding (within the window), and matches iff an
    * event AT that time satisfies the predicate — on equal-timestamp ties
    * any satisfying event counts, which keeps the semantics deterministic
    * without an arbitrary intra-timestamp order. Compiles to one extra
    * keyed min-aggregation (the successor time) per strict step. */
  def next(name: String, pred: Column): Pattern = {
    require(notStep.isEmpty, "notFollowedBy must be the terminal step")
    new Pattern(steps :+ Step(name, pred, strict = true), notStep, windowMs, skipPastLast, skipTo)
  }

  /** Alternation — flink-cep's grouped pattern with alternative conditions
    * (reference flink-libraries/flink-cep/.../pattern/GroupPattern.java and
    * the SQL CLASSIFIER() function in MatchRecognizeITCase): the step binds
    * the earliest event matching ANY branch, and the match records WHICH
    * branch matched in an extra `<name>_cls` column (first matching branch
    * in declaration order for an event satisfying several). Equal-timestamp
    * candidates tie-break on (ts, branch name) lexicographically — the
    * classifier participates in the struct-min binding. Composable with
    * [[bind]], [[times]], and [[oneOrMore]]/[[zeroOrMore]] (the quantified
    * alternation group `(B|C)+`/`(B|C)*` — see [[oneOrMore]] for the
    * per-branch member counts); exclusive with optional(). */
  def followedByOneOf(name: String, branches: (String, Column)*): Pattern = {
    require(notStep.isEmpty, "notFollowedBy must be the terminal step")
    require(branches.size >= 2, "alternation needs at least two branches")
    new Pattern(steps :+ Step(name, branches.map(_._2).reduce(_ || _),
      alts = branches.toVector), notStep, windowMs, skipPastLast, skipTo)
  }

  /** Bind event columns alongside the LAST added step's timestamp: each named
    * column is carried into the match output as `<step>_<col>` and becomes
    * referenceable from later iterative predicates via [[Pattern.bound]].
    * When several candidates share the earliest timestamp, the binding is the
    * lexicographic minimum over (ts, bound columns in declared order) —
    * deterministic on both engines. Valid on plain, optional and
    * times(n)/timesRange steps (quantified expansions bind as
    * `<step>_<i>_<col>`; skipped expansions bind null); runs use [[bindRun]]
    * instead. */
  def bind(cols: String*): Pattern = {
    // optional and ranged steps may bind too: a skipped expansion's payload
    // is null (the refinement tables join left) — only runs aggregate
    // instead of binding, via bindRun()
    require(steps.nonEmpty && !steps.last.oneOrMore && steps.last.inner2.isEmpty,
      "bind() applies to plain/optional/times(n)/timesRange steps — use bindRun() for runs")
    new Pattern(steps.init :+ steps.last.copy(keep = cols.toVector), notStep, windowMs, skipPastLast, skipTo)
  }

  /** Quantifier on the LAST added step: bind n successive occurrences. */
  def times(n: Int): Pattern = {
    require(n >= 1 && steps.nonEmpty)
    new Pattern(steps.init :+ steps.last.copy(reps = n), notStep, windowMs, skipPastLast, skipTo)
  }

  /** Range quantifier on the LAST added step — flink-cep `times(from, to)`
    * with GREEDY consumption (reference flink-libraries/flink-cep/.../
    * pattern/Quantifier.java, `Pattern.times(from,to).greedy()`): binds
    * `from` mandatory occurrences then up to `to - from` more whenever they
    * exist, each the earliest candidate after the previous binding; the next
    * step binds after the LAST bound occurrence. One deterministic maximal
    * match per start (no per-count branch emission, which is the reluctant
    * variant's behavior). Unbound tail expansions emit null `_i_ts` columns.
    * Exclusive with bind()/optional()/oneOrMore(). */
  def timesRange(from: Int, to: Int): Pattern = {
    require(from >= 1 && to > from && steps.nonEmpty)
    require(!steps.last.opt && !steps.last.oneOrMore,
      "timesRange() excludes optional()/oneOrMore()")
    new Pattern(steps.init :+ steps.last.copy(reps = from, optTail = to - from),
      notStep, windowMs, skipPastLast, skipTo)
  }

  /** Make the LAST added step optional (flink-cep `optional()`): a match may
    * skip it; its `<name>_ts` column is null when skipped. Not valid on the
    * first step. */
  def optional(): Pattern = {
    require(steps.size >= 2, "optional() applies to a followedBy step")
    require(steps.last.reps == 1, "optional() and times(n) are exclusive")
    require(steps.last.keep.isEmpty && steps.last.alts.isEmpty && !steps.last.strict,
      "optional() excludes bind()/followedByOneOf()/next()")
    new Pattern(steps.init :+ steps.last.copy(opt = true), notStep, windowMs, skipPastLast, skipTo)
  }

  /** flink-cep `oneOrMore()` (default/reluctant contiguity): the LAST added
    * step binds its first occurrence as usual, the NEXT step binds at the
    * earliest opportunity after it, and the emitted match reports the whole
    * run of occurrences strictly before that next binding (or to the window
    * end when this is the final step): columns `<name>_first_ts`,
    * `<name>_last_ts`, `<name>_n` replace `<name>_ts`. */
  /** On an alternation step ([[followedByOneOf]]), `oneOrMore()` makes the
    * QUANTIFIED ALTERNATION GROUP `(B|C)+` (reference flink-cep
    * GroupPattern over `oneOf` branches, NFAITCase): the run's members are
    * events matching ANY branch, and the match additionally carries one
    * member count per branch — `<name>_n_<branch>` (each member counted
    * under its classifier: the first matching branch in declaration order),
    * summing to `<name>_n`. */
  def oneOrMore(): Pattern = {
    require(steps.size >= 2, "oneOrMore() applies to a followedBy step")
    require(steps.last.reps == 1 && !steps.last.opt && steps.last.keep.isEmpty &&
      !steps.last.strict,
      "oneOrMore() excludes times(n)/optional()/bind()/next()")
    new Pattern(steps.init :+ steps.last.copy(oneOrMore = true), notStep, windowMs, skipPastLast, skipTo)
  }

  /** flink-cep `timesOrMore(n)` (reference Pattern.java:420 — at least n
    * occurrences, greedy): the [[oneOrMore]] run machinery with a MINIMUM
    * member count — a start whose maximal run holds fewer than n members
    * does not match at all (the reference NFA never reaches the final
    * state). `timesOrMore(1)` IS `oneOrMore()`. Same exclusions as
    * oneOrMore; the run emits the same `<name>_first_ts`/`<name>_last_ts`/
    * `<name>_n` columns, with `<name>_n >= n` guaranteed. */
  def timesOrMore(n: Int): Pattern = {
    require(n >= 1, s"timesOrMore($n): n must be >= 1")
    new Pattern(steps.init :+ steps.last.copy(minRun = n), notStep, windowMs,
      skipPastLast, skipTo).oneOrMore()
  }

  /** Zero-or-more — the `B*` quantifier (reference flink-cep
    * Pattern.java#oneOrMore composed with #optional, i.e.
    * `oneOrMore().optional()`, and every MatchRecognizeITCase `(A B* C)`
    * pattern): like [[oneOrMore]], but the run may be EMPTY — the match then
    * carries null `<name>_first_ts`/`<name>_last_ts` and `<name>_n` = 0, and
    * the next step binds after the previous step's binding. Like the greedy
    * flink-cep default, when any occurrence exists in-window the run binds
    * (the next step then binds after the run's first occurrence), even if
    * skipping it would let the next step bind earlier. */
  def zeroOrMore(): Pattern = {
    require(steps.size >= 2, "zeroOrMore() applies to a followedBy step")
    require(steps.last.reps == 1 && !steps.last.opt && steps.last.keep.isEmpty &&
      !steps.last.strict,
      "zeroOrMore() excludes times(n)/optional()/bind()/next()")
    new Pattern(steps.init :+ steps.last.copy(oneOrMore = true, opt = true),
      notStep, windowMs, skipPastLast, skipTo)
  }

  /** Bind value columns over a [[oneOrMore]]/[[zeroOrMore]]/[[followedByRun]]
    * RUN (reference MatchRecognizeITCase's `SUM(A.price)` aggregate measures
    * over `A+` patterns): the run aggregate additionally carries, per named
    * column `c`, `<step>_sum_<c>` / `<step>_min_<c>` / `<step>_max_<c>` and
    * the first/last member's value `<step>_first_<c>` / `<step>_last_<c>`
    * (by run timestamp; equal-timestamp ties resolve to the lexicographic
    * (ts, value) min/max — deterministic on both engines). sum/min/max ride
    * the run's single HASH aggregate (O(1) state per column); first/last
    * values come from a per-(key, ts) extremes table equi-joined back on the
    * boundary timestamps (the q38 pattern — no struct aggregate, so nothing
    * falls back to SortAggregate and the member rows are never sorted). An
    * empty zeroOrMore run yields nulls (count stays 0). */
  def bindRun(cols: String*): Pattern = {
    require(steps.nonEmpty && (steps.last.oneOrMore || steps.last.runOn.nonEmpty) &&
      steps.last.inner2.isEmpty,
      "bindRun() requires oneOrMore()/zeroOrMore()/followedByRun() on a non-group step")
    new Pattern(steps.init :+ steps.last.copy(keep = cols.toVector), notStep, windowMs, skipPastLast, skipTo)
  }

  /** Self-referential run — the reference's V-shape iterative condition
    * (flink-table MatchRecognizeITCase.scala:405,554 `DOWN AS price <
    * LAST(DOWN.price, 1)`, planned through flink-cep's IterativeCondition
    * over the run's own previous binding): a `+` run where each occurrence
    * after the first must satisfy `accept(current, previous)` over the
    * `runOn` column, relative to the run's OWN previous member. The first
    * occurrence is accepted on `pred` alone (the SQL idiom's
    * `LAST(V.col, 1) IS NULL OR ...` branch). The next pattern step binds
    * strictly after the run's LAST member (the run ends organically at the
    * first violation, not at the next step's binding).
    *
    * Lowering: candidates are segmented per key into maximal accept-chains
    * with one lag + one running-sum window (ordered by (ts, runOn) — ties
    * beyond that make segmentation order-dependent, as in the reference),
    * then the run is one keyed equi-join on the segment id: shuffles stay
    * on the key, no cross product, no per-NFA state. The streaming twin is
    * `graft.streaming.StreamOps.cepPatternRun` (the condition is causal on
    * streams — O(1) run state), with a batch/streaming parity spec. */
  /** `offset` > 1 is the `PREV(col, n)` generalization (reference
    * flink-cep IterativeCondition over `ctx.getEventsForPattern` at
    * arbitrary depth, Calcite MATCH_RECOGNIZE `PREV(V.col, n)`): each run
    * member after the first `offset` must satisfy `accept(current, member
    * n back in the run)`; the first `offset` members are accepted on
    * `pred` alone. Offset 1 keeps the pure window-lag segmentation; n > 1
    * precomputes the lag-n accept declaratively and assigns run segments
    * with a per-key linear scan (run restarts are a recursion no window
    * expresses — the scan is the reference NFA's per-key order, parallel
    * in the key space, O(members) per key). */
  def followedByRun(name: String, pred: Column, runOn: String,
                    accept: (Column, Column) => Column,
                    offset: Int = 1): Pattern = {
    require(notStep.isEmpty, "notFollowedBy must be the terminal step")
    require(steps.nonEmpty, "followedByRun() follows a begin step")
    require(offset >= 1, s"followedByRun offset must be >= 1 (got $offset)")
    new Pattern(steps :+ Step(name, pred, runOn = Some(runOn),
      runAccept = Some(accept), runOffset = offset), notStep, windowMs, skipPastLast, skipTo)
  }

  /** CONSECUTIVE run contiguity — flink-cep `oneOrMore().consecutive()`
    * (reference flink-libraries/flink-cep/.../pattern/Pattern.java:463, the
    * documented strict-contiguity toggle on looping states): run members
    * must occupy ADJACENT distinct event times of the key — any intervening
    * event time with no matching event CLOSES the run (organically, like
    * [[followedByRun]]), and the next pattern step binds strictly after the
    * run's LAST member. Adjacency is time-level, the [[next]] convention:
    * on equal-timestamp ties any satisfying event counts.
    *
    * (The reference's other toggle, `allowCombinations()`, emits every
    * subset-combination of run members — a non-deterministic all-branches
    * expansion that contradicts this compiler's one-deterministic-match-
    * per-start convention and explodes combinatorially; relaxed contiguity,
    * the flink-cep default, is this engine's default and is NOT changed by
    * this method.)
    *
    * Lowering: gaps-and-islands over the key's distinct event times (one
    * lag + one running sum — the same segmentation shape as the V-shape),
    * then the run is one keyed equi-join on the segment id. */
  def consecutive(): Pattern = {
    require(steps.nonEmpty && steps.last.oneOrMore && steps.last.inner2.isEmpty &&
      !steps.last.opt && steps.last.keep.isEmpty && steps.last.until.isEmpty,
      "consecutive() requires a plain oneOrMore() step " +
        "(excludes zeroOrMore/bindRun/until/groups)")
    new Pattern(steps.init :+ steps.last.copy(consec = true), notStep, windowMs, skipPastLast, skipTo)
  }

  /** GROUP pattern — a quantifiable SUB-PATTERN (reference flink-libraries/
    * flink-cep/.../pattern/GroupPattern.java:30, `Pattern.begin(Pattern)`,
    * exercised throughout flink-cep NFAITCase): the step matches one
    * complete sub-sequence `sub(0) sub(1) ... sub(k)` (relaxed contiguity,
    * each sub-step the earliest in-key candidate strictly after the
    * previous sub-binding), and composes with [[times]]/[[timesRange]]/
    * [[optional]]/[[oneOrMore]] — `(A B)+` repeats the whole sub-sequence,
    * each repetition starting strictly after the previous one's END, greedy
    * (as many complete repetitions as fit the window; the next pattern step
    * binds after the LAST repetition's end). Emits `<name>_first_ts` (the
    * first repetition's first sub-binding), `<name>_last_ts` (the last
    * repetition's final sub-binding) and, under oneOrMore, `<name>_n`
    * (repetition count).
    *
    * Lowering: a sequence group is the DEPTH-0 nested group — the same
    * [[Step]] as [[followedByNestedNGroup]] with the sub-sequence as its
    * innermost level and no closing levels, walked by the same one keyed
    * pass. One scan of the events emits a row per (event, member it
    * satisfies), plus the anchor rows when the group directly follows the
    * begin step (a longer prefix joins as the second side of a cogroup);
    * one grouping on the key hands each key's rows to the walk, which
    * builds the sub-matches (per first-member event, its earliest
    * completion) and chains them greedily, each repetition the earliest
    * sub-match starting strictly after the previous one's end. A
    * sub-match's end is MONOTONE in its start (each stage is an
    * earliest-after over a shrinking candidate set), so the chain stops
    * at the first sub-match that ends past the window. Without `+`/`*`
    * (bare, [[optional]], each [[times]] expansion) the chain stops after
    * one repetition. Per-key state is the key's member rows, bounded by
    * `maxEventsPerKey`. */
  def followedByGroup(name: String, sub: (String, Column)*): Pattern = {
    require(notStep.isEmpty, "notFollowedBy must be the terminal step")
    require(steps.nonEmpty, "followedByGroup() follows a begin step")
    require(sub.size >= 2, Pattern.TwoStepSubGroup)
    new Pattern(steps :+ Step(name, sub.map(_._2).reduce(_ || _),
      inner2 = sub.toVector), notStep, windowMs, skipPastLast, skipTo)
  }

  /** NESTED group pattern — one level of group-in-group composition,
    * `((I1 I2 ...)+ T1 T2 ...)` quantified by [[oneOrMore]]/[[zeroOrMore]]
    * (reference flink-libraries/flink-cep/.../pattern/GroupPattern.java:30,
    * which wraps an ARBITRARY inner Pattern — NFACompiler walks the
    * composition recursively; the `((A B)+ C)+` shape is the canonical
    * nested case). Each outer repetition matches: one-or-more complete
    * inner sub-sequences `I1 I2 ...`, then the tail steps `T1 T2 ...`
    * bound sequentially (earliest in-key candidate strictly after the
    * previous binding). The TAIL PUNCTUATES repetitions: the inner chain
    * absorbs the next sub-match only while it completes strictly BEFORE
    * the earliest first-tail candidate after the current chain end —
    * reluctant tail close, so a `V` arriving between inner sub-sequences
    * ends the current repetition and the next `I1` starts a new one (the
    * deterministic one-match-per-start canonicalization of the reference
    * NFA's match set; a greedy-maximal inner chain would swallow every
    * inner sub-match and collapse the outer quantifier to one repetition).
    * The next outer repetition anchors at the EARLIEST inner-sub start
    * strictly after the previous repetition's final tail binding; if its
    * repetition cannot complete in-window the chain ends with the
    * repetitions already completed (greedy-no-backtracking). Emits
    * `<name>_first_ts` (first repetition's first inner binding),
    * `<name>_last_ts` (last repetition's final tail binding), `<name>_n`
    * (outer repetition count) and `<name>_inner_n` (total inner
    * sub-sequence count across all outer repetitions).
    *
    * Lowering: the depth-1 case of [[followedByNestedNGroup]] — one
    * closing level holding the tails, walked in the same one keyed pass
    * (each inner sub-match is a first-inner-step event with its earliest
    * completion — completion MONOTONE in start). [[bindGroup]],
    * [[tieBreak]], the residual binders and [[materializeNestedRows]]
    * compose; [[materializeGroupRows]] is a named error. */
  /** `innerOptional` (r15, upgrading the former inner-`*` named
    * rejection): the inner sub-group may repeat ZERO times inside a
    * repetition — `((I...)* T...)+` (reference GroupPattern composes an
    * optional inner group the same way). A repetition then binds EITHER
    * a (greedy, tail-punctuated) inner chain + tails, OR the tails
    * alone — tail-first when the earliest first-tail candidate does not
    * come strictly after the earliest completable sub (the same
    * earliest-completion rule that punctuates the inner chain: the
    * branch completing first wins). The outer chain keeps absorbing
    * tail-only repetitions while tails remain in-window. */
  def followedByNestedGroup(name: String, inner: Seq[(String, Column)],
                            tail: Seq[(String, Column)],
                            innerOptional: Boolean = false): Pattern = {
    require(notStep.isEmpty, "notFollowedBy must be the terminal step")
    require(steps.nonEmpty, "followedByNestedGroup() follows a begin step")
    require(inner.size >= 2, Pattern.TwoStepSubGroup)
    require(tail.nonEmpty,
      "the nested group needs at least one tail step after the inner " +
        "sub-group (a tail-less ((A B)+)+ collapses to (A B)+ — use " +
        "followedByGroup)")
    followedByNestedNGroup(name, inner, Seq(tail), innerOptional)
  }

  /** DEPTH-2 nested group — TWO levels of group-in-group composition,
    * `(((I1 I2 ...)+ M1 ...)+ T1 ...)` quantified by
    * [[oneOrMore]]/[[zeroOrMore]] (reference flink-cep GroupPattern.java:30
    * wraps an ARBITRARY inner Pattern, so `(((A B)+ C)+ D)+` is one more
    * recursive composition; NFACompiler walks it the same way). The
    * semantics RECURSE the one-level [[followedByNestedGroup]] rule: each
    * outer repetition matches one-or-more complete LEVEL-1 repetitions —
    * where a level-1 repetition is a greedy inner `(I...)` chain
    * punctuated by the earliest first-MID candidate, then the mid steps
    * `M...` bound sequentially — and then the outer tail steps `T...`.
    * The outer tail punctuates the level-1 chain exactly as the mid
    * punctuates the inner chain: the chain absorbs the next level-1
    * repetition only while it completes strictly BEFORE the earliest
    * first-outer-tail candidate after the current chain end (reluctant
    * close at every level — the same deterministic canonicalization of
    * the reference NFA's match set, applied recursively). The next outer
    * repetition anchors at the earliest inner-sub start strictly after
    * the previous repetition's final tail binding; a repetition that
    * cannot complete in-window ends the chain with the repetitions
    * already completed (greedy-no-backtracking at every level). Emits
    * `<name>_first_ts` (first repetition's first inner binding),
    * `<name>_last_ts` (last repetition's final outer-tail binding),
    * `<name>_n` (outer repetition count), `<name>_mid_n` (total level-1
    * repetitions across outer repetitions) and `<name>_inner_n` (total
    * inner sub-sequences).
    *
    * Lowering: [[followedByNestedNGroup]]'s one keyed pass; the
    * level-1 repetition probe is a function the outer chain calls both
    * to punctuate and to absorb, so nothing is recomputed and the walk
    * stays O(total bindings · log candidates) per key, bounded by
    * `maxEventsPerKey`. [[bindGroup]] composes (r16 — member VALUE
    * measures: each member's value is read at its bound timestamp, and
    * the walk folds values through TWO
    * pending levels — a level-1 repetition's values commit into the
    * outer attempt only when it is absorbed, the attempt's only when the
    * outer repetition completes); [[tieBreak]] steers the bound values
    * at every level (r17 — the shared per-(key, ts) tie-break);
    * [[materializeNestedRows]] composes, including with bindGroup (r18 —
    * per-row vsum/vcnt value snapshots at every depth). */
  /** `innerOptional` (r16, the m37 recipe recursed): the innermost
    * sub-group may repeat ZERO times inside a level-1 repetition —
    * `(((I...)* M...)+ T...)+`. A level-1 repetition then binds EITHER a
    * (greedy, mid-punctuated) inner chain + mids, OR the mids alone —
    * mid-first when the earliest first-mid candidate does not come
    * strictly after the earliest completable sub (the same
    * earliest-completion rule, ties favoring the mid — the one-level
    * inner-'*' convention one level down). */
  def followedByNested2Group(name: String, inner: Seq[(String, Column)],
                             mid: Seq[(String, Column)],
                             tail: Seq[(String, Column)],
                             innerOptional: Boolean = false): Pattern =
    followedByNestedNGroup(name, inner, Seq(mid, tail), innerOptional)

  /** DEPTH-3 nested group — THREE levels of group-in-group composition,
    * `((((I1 I2 ...)+ M1...)+ N1...)+ T1...)` quantified by
    * [[oneOrMore]]/[[zeroOrMore]] (reference flink-cep GroupPattern.java:30
    * composes recursively without limit — this is the r16 depth named
    * rejection lifted by RECURSING the depth-2 rule once more). Semantics:
    * a LEVEL-2 repetition is a greedy chain of level-1 repetitions
    * (each an inner chain punctuated by the earliest first-MID `M...`
    * candidate, then the mids bound) punctuated by the earliest
    * first-MID2 `N...` candidate, then the mid2 steps bound; an OUTER
    * repetition is a greedy chain of level-2 repetitions punctuated by
    * the earliest first-outer-tail `T...` candidate, then the tails bound
    * — reluctant close and greedy-no-backtracking at EVERY level, the
    * next outer repetition anchoring after the previous final tail
    * binding. Emits `<name>_first_ts`, `<name>_last_ts`, `<name>_n`
    * (outer), `<name>_mid2_n` (total level-2 repetitions),
    * `<name>_mid_n` (total level-1) and `<name>_inner_n`.
    *
    * Lowering: the SAME one keyed pass as [[followedByNested2Group]]
    * (mid2 steps slot between the mids and the outer tails), and the
    * chain walk gains one recursion level. [[bindGroup]] values, [[bindTailResidual]] on mid/mid2/
    * tail members, [[tieBreak]], an inner `*` and (r18)
    * [[materializeNestedRows]] all compose through the same machinery.
    * Depth ≥ 4 is [[followedByNestedNGroup]] (r18 — the former named
    * error, closed by the depth-parametric walk). */
  def followedByNested3Group(name: String, inner: Seq[(String, Column)],
                             mid: Seq[(String, Column)],
                             mid2: Seq[(String, Column)],
                             tail: Seq[(String, Column)],
                             innerOptional: Boolean = false): Pattern =
    followedByNestedNGroup(name, inner, Seq(mid, mid2, tail), innerOptional)

  /** DEPTH-N nested group — ARBITRARY group-in-group nesting depth,
    * `(...((I1 I2 ...)+ L1...)+ L2...)+ ... LD...)+` quantified by
    * [[oneOrMore]]/[[zeroOrMore]] (reference flink-cep GroupPattern.java:30
    * composes recursively WITHOUT LIMIT — this closes the depth ≥ 4 named
    * error for good by making the recursion depth a parameter instead of a
    * per-depth compile branch; r18, the m48 `repNext` dispatch
    * generalized). `closingLevels(l)` holds level-(l+1)'s closing steps:
    * `closingLevels(0)` (the "mids") closes each LEVEL-1 repetition,
    * `closingLevels.last` (the outer tails) each OUTER repetition; depth =
    * `closingLevels.size` >= 1 — [[followedByNestedGroup]],
    * [[followedByNested2Group]] and [[followedByNested3Group]] are this
    * method at depth 1, 2 and 3. Semantics recurse the
    * [[followedByNestedGroup]] rule uniformly: a level-l repetition is a
    * greedy chain of level-(l−1) repetitions (level-0 = one inner
    * sub-sequence) punctuated by the
    * earliest first-level-l-closer candidate, then level-l's closing steps
    * bound sequentially — reluctant close and greedy-no-backtracking at
    * EVERY level, the next repetition anchoring strictly after the
    * previous one's final closer binding. Emits `<name>_first_ts`,
    * `<name>_last_ts`, `<name>_n` (outer repetitions), one
    * `<name>_mid{l}_n` per intermediate level (level-l repetition totals;
    * level 1 keeps the historical `<name>_mid_n` spelling) and
    * `<name>_inner_n`.
    *
    * Lowering: ONE keyed pass at every depth — the per-key event walk of
    * the reference NFA (flink-cep/.../nfa/NFA.java). One scan of the
    * events emits a row per (event, member it satisfies), plus the anchor
    * rows when the group directly follows the begin step; one grouping on
    * the key hands each key's rows to the walk, which builds the inner
    * sub-matches itself and runs ONE recursive per-level probe — depth
    * adds probe levels, never scans or shuffles, and per-key state stays
    * bounded by `maxEventsPerKey`. A longer prefix before the group joins
    * the walk as the second side of a cogroup.
    * [[bindGroup]] values, [[bindTailResidual]] on any closing-level
    * member, [[bindInnerResidual]], [[tieBreak]], an inner `*`
    * (`innerOptional`) and [[materializeNestedRows]] (r18 — at every
    * depth, with per-row running counts for every level and, under
    * bindGroup, per-row vsum/vcnt value snapshots) all compose through
    * the same machinery. */
  def followedByNestedNGroup(name: String, inner: Seq[(String, Column)],
                             closingLevels: Seq[Seq[(String, Column)]],
                             innerOptional: Boolean = false): Pattern = {
    require(notStep.isEmpty, "notFollowedBy must be the terminal step")
    require(steps.nonEmpty, "followedByNestedNGroup() follows a begin step")
    require(inner.size >= 2, Pattern.TwoStepSubGroup)
    require(closingLevels.nonEmpty,
      "a nested group needs at least one closing level")
    require(closingLevels.forall(_.nonEmpty),
      "every closing level needs at least one step — a level with no " +
        "closing step collapses to the next-shallower depth: drop the " +
        "empty level (e.g. use followedByNested2Group instead of " +
        "followedByNested3Group)")
    new Pattern(steps :+ Step(name,
      (inner.map(_._2) ++ closingLevels.flatten.map(_._2)).reduce(_ || _),
      inner2 = inner.toVector,
      closings = closingLevels.map(_.toVector).toVector,
      innerOpt = innerOptional),
      notStep, windowMs, skipPastLast, skipTo)
  }

  /** Bind a value column of a GROUP MEMBER across the group's repetitions —
    * the aggregate-measure surface of [[followedByGroup]] (reference
    * flink-table MatchRecognizeITCase aggregate measures, `SUM(C.price)`
    * over a quantified pattern): per bound column `c` of member `m`, the
    * match carries `<group>_sum_<m>_<c>` / `<group>_min_<m>_<c>` /
    * `<group>_max_<m>_<c>` (SQL null-ignoring aggregates over the chosen
    * repetitions), `<group>_first_<m>_<c>` / `<group>_last_<m>_<c>` (the
    * first/last repetition's value, positional) and `<group>_cnt_<m>_<c>`
    * (non-null count — the AVG divisor). Values are read at the member's
    * bound timestamp (equal-timestamp ties resolve to the minimum value,
    * the engine's lexicographic (ts, value) convention) and cast to double
    * so the repetition chain carries O(1) running state per column — the
    * same shape as [[bindRun]]'s run aggregates. An empty `(sub)*` chain
    * yields nulls with count 0. */
  def bindGroup(member: String, cols: String*): Pattern = {
    require(steps.nonEmpty && steps.last.inner2.nonEmpty,
      "bindGroup() requires followedByGroup()/followedByNestedGroup()/" +
        "followedByNested2Group() as the last step")
    // on a NESTED group (r15, upgrading the former named rejection) the
    // member may be an inner sub-step OR a tail step: each is read at the
    // member's bound time, and the walk folds completed
    // repetitions into the same running sum/min/max/first/last/cnt state
    // the one-level chain keeps
    require((steps.last.inner2 ++ steps.last.closings.flatten)
        .exists(_._1 == member),
      s"bindGroup($member): not a member of group ${steps.last.name}")
    require(!steps.last.tailRes.exists(_._1 == member),
      s"bindGroup($member): does not compose with bindTailResidual on " +
        "the same member")
    require(!steps.last.innerRes.exists(_._1 == member),
      s"bindGroup($member): does not compose with bindInnerResidual on " +
        "the same member")
    new Pattern(steps.init :+ steps.last.copy(
      groupKeep = steps.last.groupKeep ++ cols.map(member -> _)),
      notStep, windowMs, skipPastLast, skipTo)
  }

  /** ITERATIVE condition on a nested-group TAIL member — the reference's
    * IterativeCondition (flink-cep IterativeCondition.java:65,
    * `ctx.getEventsForPattern`) reaching INSIDE a GroupPattern: the tail
    * step binds the earliest candidate whose `valueCol` satisfies
    * `<op> threshold`, where `threshold` is a Column over the EARLIER
    * plain steps' bound columns (e.g. `W.value > 2 * S.value` — the w14
    * shape, relative to the match's own anchor bindings). Because the
    * threshold varies per match, the walk carries each tail candidate's
    * value extreme per (key, ts) — max for `>`/`>=`, min for `<`/`<=`,
    * so "any candidate at this ts satisfies" is one comparison — and
    * scans forward from the usual earliest position to the first
    * satisfying candidate; punctuation uses the same satisfying scan
    * (the tail can only punctuate where it can bind). A null threshold
    * (null anchor binding) never binds — SQL three-valued logic.
    *
    * Depth-2 MID members compose too (r17): the mid BINDING and the
    * inner-chain PUNCTUATION share the satisfying scan — exactly the
    * tail convention one level down (a failing mid candidate neither
    * binds nor punctuates the inner chain). INNER members take
    * [[bindInnerResidual]]. One residual per member; does not compose with [[bindGroup]] on the
    * same member (the per-(key, ts) reduction differs). */
  def bindTailResidual(member: String, valueCol: String, op: String,
                       threshold: Column): Pattern = {
    require(steps.nonEmpty && steps.last.closings.nonEmpty,
      "bindTailResidual() requires followedByNestedGroup()/" +
        "followedByNested2Group()/followedByNested3Group()/" +
        "followedByNestedNGroup() as the last step")
    require(steps.last.closings.flatten.exists(_._1 == member),
      s"bindTailResidual($member): not a CLOSING-level member of nested " +
        s"group ${steps.last.name} (INNER members take bindInnerResidual)")
    require(Set("<", "<=", ">", ">=")(op),
      s"bindTailResidual($member): op must be one of < <= > >= (got '$op')")
    require(!steps.last.tailRes.exists(_._1 == member),
      s"bindTailResidual($member): one residual per tail member")
    require(!steps.last.groupKeep.exists(_._1 == member),
      s"bindTailResidual($member): does not compose with bindGroup on " +
        "the same member")
    new Pattern(steps.init :+ steps.last.copy(
      tailRes = steps.last.tailRes :+ ((member, valueCol, op, threshold))),
      notStep, windowMs, skipPastLast, skipTo)
  }

  /** ITERATIVE condition on a nested-group INNER member (r17, lifting the
    * named rejection [[bindTailResidual]] documents — the reference's
    * IterativeCondition composes with ANY NFA state, including states
    * inside a GroupPattern's inner sub-pattern): the inner member binds
    * the earliest candidate whose `valueCol` satisfies `<op> threshold`,
    * where `threshold` is a Column over the EARLIER plain steps' bound
    * columns — so the inner sub-matches become anchor-dependent.
    * Lowering: the walk reduces the member's candidates to per-(key, ts)
    * op-appropriate value extremes and builds the sub-matches once per
    * DISTINCT threshold tuple among the key's anchors (not per anchor);
    * each anchor walks the sub-matches of its own tuple. A null threshold
    * never binds (SQL 3VL — that anchor has NO completable subs). One
    * residual per inner member; does not compose with [[bindGroup]] on
    * the same member. Composes at every depth (the inner sub-matches are
    * built the same way at every depth; mid/mid2/tail members take
    * [[bindTailResidual]]). */
  def bindInnerResidual(member: String, valueCol: String, op: String,
                        threshold: Column): Pattern = {
    require(steps.nonEmpty && steps.last.closings.nonEmpty,
      "bindInnerResidual() requires followedByNestedGroup()/" +
        "followedByNested2Group()/followedByNested3Group() as the last step")
    require(steps.last.inner2.exists(_._1 == member),
      s"bindInnerResidual($member): not an INNER member of nested group " +
        s"${steps.last.name} (mid/tail members take bindTailResidual)")
    require(Set("<", "<=", ">", ">=")(op),
      s"bindInnerResidual($member): op must be one of < <= > >= (got '$op')")
    require(!steps.last.innerRes.exists(_._1 == member),
      s"bindInnerResidual($member): one residual per inner member")
    require(!steps.last.groupKeep.exists(_._1 == member),
      s"bindInnerResidual($member): does not compose with bindGroup on " +
        "the same member")
    new Pattern(steps.init :+ steps.last.copy(
      innerRes = steps.last.innerRes :+ ((member, valueCol, op, threshold))),
      notStep, windowMs, skipPastLast, skipTo)
  }

  /** Materialize each repetition's member BINDINGS on the match row — the
    * per-event surface that ALL ROWS PER MATCH over a sequence group needs
    * (reference flink-table StreamExecMatch row-per-event emission over
    * GroupPattern repetitions, MatchRecognizeITCase ALL-ROWS shapes): the
    * match additionally carries `<group>_reps` (array per repetition of the
    * member timestamps, in member order) and `<group>_repvals` (array per
    * repetition of the [[bindGroup]] column values, in groupKeep order).
    * Per-match state is bounded by the repetition count (window-bounded),
    * and downstream consumers expand rows with generator expressions — no
    * extra join or shuffle. Requires the quantified (`+`/`*`) chain path. */
  /** Materialize each bound event of the NESTED chain on the match row —
    * the ALL ROWS PER MATCH surface of [[followedByNestedGroup]]: the match
    * additionally carries `<name>_rows`, one struct per bound event in
    * binding order — (ts, cls = the member variable's name, reps = outer
    * repetitions completed as of the row, subs = inner sub-sequences
    * completed as of the row; a row that itself completes a sub/repetition
    * counts it). Rows of a repetition that never completes (a dangling
    * inner chain at window end, or a failed tail) are never emitted.
    * Per-match state is bounded by the window's binding count, and
    * downstream consumers expand with a generator — no extra join. */
  /** With [[bindGroup]] columns on the nested group (r15), each
    * materialized row additionally carries `vsum`/`vcnt` — the RUNNING
    * per-(member, col) sum and non-null count AS OF the row (including
    * the row's own contribution) — the raw material for ALL ROWS running
    * SUM/COUNT/AVG value measures. Running MIN/MAX/FIRST/LAST per row
    * are not materialized (named errors downstream). */
  /** On a DEPTH-2+ group (r16; generalized r18) the materialized structs
    * additionally carry one running level count per intermediate nesting
    * level — `mids` (level-1 repetitions completed as of the row), `mids2`
    * (level-2, depth ≥ 3), `mids3` (depth ≥ 4), ... — with the same
    * a-row-that-completes-one-counts-it convention as reps/subs; rows of a
    * repetition that is never absorbed at ANY level, or of an outer
    * repetition that never completes, are never emitted (the per-level
    * discard the value fold follows). With [[bindGroup]] columns the
    * structs carry the `vsum`/`vcnt` running value snapshots at every
    * depth (r18, lifting the former one-level-only mutual exclusion):
    * a repetition's value contributions resolve into the row snapshots at
    * ABSORB time and commit with the outer repetition, exactly like the
    * running counts. */
  def materializeNestedRows(): Pattern = {
    require(steps.nonEmpty && steps.last.closings.nonEmpty,
      "materializeNestedRows() requires followedByNestedGroup()/" +
        "followedByNested2Group()/followedByNested3Group()/" +
        "followedByNestedNGroup() as the last step")
    new Pattern(steps.init :+ steps.last.copy(groupRows = true),
      notStep, windowMs, skipPastLast, skipTo)
  }

  def materializeGroupRows(): Pattern = {
    // nested groups first: the named error must point at the nested-group
    // surface
    require(steps.isEmpty || steps.last.closings.isEmpty,
      "materializeGroupRows() does not compose with followedByNestedGroup()" +
        " — use materializeNestedRows()")
    require(steps.nonEmpty && steps.last.inner2.nonEmpty,
      "materializeGroupRows() requires followedByGroup() as the last step")
    new Pattern(steps.init :+ steps.last.copy(groupRows = true),
      notStep, windowMs, skipPastLast, skipTo)
  }

  /** Secondary intra-timestamp order for the LAST added step — the
    * run/group analog of the composite ORDER BY `(ts, tie)` plain-step
    * refinement (reference StreamExecMatch.scala ComparatorCodeGenerator
    * secondary sort keys): equal-timestamp candidates order by `(tie,
    * value)` instead of `(value)`, which steers WHICH candidate's payload
    * counts as the run's first/last member value ([[bindRun]]) or binds a
    * group member's value ([[bindGroup]]). Membership and succession stay
    * time-level — the tiebreak never changes WHICH timestamps match, only
    * which same-timestamp event's values are read. Lowered as min_by/max_by
    * hash aggregates — no sort, no extra shuffle. */
  /** On a PLAIN alternation step ([[followedByOneOf]], unquantified —
    * r18, lifting the m20-era named rejection for this one shape): the
    * tiebreak becomes the LEADING binding payload, so equal-timestamp
    * candidates bind by lexicographic (ts, ties..., cls, bound columns) —
    * the tiebreak STEERS WHICH BRANCH CLASSIFIES (the reference's
    * ComparatorCodeGenerator secondary sort keys order rows before the
    * NFA sees them, which is exactly this). The tie columns are bound
    * onto the match as `<step>_<col>`. Quantified alternations and
    * self-referential runs stay named rejections in the SQL front door:
    * there the classifier feeds per-branch COUNTS / the run segmentation,
    * and a tie-steered different member silently changes those counts —
    * not just which payload is read. */
  def tieBreak(cs: String*): Pattern = {
    require(cs.nonEmpty, "tieBreak() needs at least one column")
    require(steps.nonEmpty &&
      (steps.last.oneOrMore || steps.last.inner2.nonEmpty ||
        (steps.last.alts.nonEmpty && !steps.last.oneOrMore)),
      "tieBreak() applies to a oneOrMore()/zeroOrMore() run, a group step, " +
        "or a plain alternation step")
    new Pattern(steps.init :+ steps.last.copy(tieCols = cs.toVector),
      notStep, windowMs, skipPastLast, skipTo)
  }

  /** flink-cep `until(cond)` on a preceding `oneOrMore()` step: the run
    * stops accepting occurrences once a `cond` event (strictly after the
    * run's first occurrence, same key, in-window) appears — run members are
    * those before the EARLIEST such stop event. The first occurrence and the
    * following steps are unaffected. */
  def until(cond: Column): Pattern = {
    require(steps.nonEmpty && steps.last.oneOrMore && steps.last.inner2.isEmpty,
      "until() requires oneOrMore() on a non-group step")
    new Pattern(steps.init :+ steps.last.copy(until = Some(cond)), notStep, windowMs, skipPastLast, skipTo)
  }

  /** flink-cep AfterMatchSkipStrategy.skipPastLastEvent() (reference
    * flink-libraries/flink-cep/.../nfa/aftermatch/AfterMatchSkipStrategy
    * .java): once a match is emitted, candidate matches starting at or
    * before its last bound event are discarded — per key, matches are kept
    * greedily in start-time order. Default (without this) is NO_SKIP: every
    * first-step event may start its own match. */
  def afterMatchSkipPastLastEvent(): Pattern = {
    require(skipTo.isEmpty, "one AFTER MATCH strategy only")
    new Pattern(steps, notStep, windowMs, skipPastLast = true, skipTo = None)
  }

  /** flink-cep AfterMatchSkipStrategy.skipToFirst(v) (reference
    * flink-libraries/flink-cep/.../nfa/aftermatch/AfterMatchSkipStrategy
    * .java, SkipToFirstStrategy): once a match is emitted, candidate
    * matches starting BEFORE the emitted match's FIRST event bound to
    * variable `v` are discarded — matches starting at or after it survive
    * (overlap at the restart point is allowed, unlike SKIP PAST LAST). Per
    * key, matches are kept greedily in start order with the restart
    * threshold advancing to each kept match's `v` binding. A `v` that is
    * unbound in a kept match (skipped optional / empty run) restarts at the
    * match's own start — no pruning from that match. When `v` is the
    * pattern's first variable this degenerates to NO_SKIP (this compile
    * emits one deterministic match per start, so the reference's
    * infinite-loop guard is unnecessary). */
  def afterMatchSkipToFirst(v: String): Pattern = {
    require(!skipPastLast, "one AFTER MATCH strategy only")
    new Pattern(steps, notStep, windowMs, skipPastLast, Some((v, false)))
  }

  /** flink-cep AfterMatchSkipStrategy.skipToLast(v) — as
    * [[afterMatchSkipToFirst]] with the restart point at the emitted
    * match's LAST event bound to `v` (the last bound expansion of a
    * quantified variable; a run's last member). */
  def afterMatchSkipToLast(v: String): Pattern = {
    require(!skipPastLast, "one AFTER MATCH strategy only")
    new Pattern(steps, notStep, windowMs, skipPastLast, Some((v, true)))
  }

  def notFollowedBy(name: String, pred: Column): Pattern =
    new Pattern(steps, Some(Step(name, pred)), windowMs, skipPastLast, skipTo)

  /** [[notFollowedBy]] with an iterative condition (see
    * [[followedByIterative]]): the negative match may be relative to prior
    * bindings — "no purchase LARGER than the signup value". */
  def notFollowedByIterative(name: String, pred: Column, iterPred: Column): Pattern =
    new Pattern(steps, Some(Step(name, pred, iter = Some(iterPred))), windowMs, skipPastLast, skipTo)

  /** STRICT negative — flink-cep `notNext()` (reference Pattern.java#notNext):
    * the IMMEDIATELY following event must NOT match `pred`; a key with no
    * further in-window event passes vacuously. Adjacency is time-level as in
    * [[next]]. Terminal, like [[notFollowedBy]]. */
  def notNext(name: String, pred: Column): Pattern =
    new Pattern(steps, Some(Step(name, pred, strict = true)), windowMs, skipPastLast, skipTo)

  /** Match window measured from the first step's event time. */
  def within(ms: Long): Pattern = new Pattern(steps, notStep, Some(ms), skipPastLast, skipTo)

  /** Matches AND timed-out PARTIAL matches — the flink-cep timeout side
    * output (reference flink-libraries/flink-cep/src/main/java/org/apache/
    * flink/cep/PatternStream.java `select(OutputTag, PatternTimeoutFunction,
    * PatternSelectFunction)`: a partial match whose window expires before
    * completion is emitted to the timeout tag with its bound prefix).
    * Returns (matches, timeouts): `matches` is exactly [[detect]]'s output;
    * `timeouts` has the same columns with every step AFTER the first
    * unbound one nulled (a partial match is stuck at its first unbound
    * step — the bound prefix is the greedy chain, identical to the full
    * match's bindings over those steps) plus `timeout_ts` = the window end
    * (first binding + within). In the bounded/batch view every window has
    * expired, so each start either completes or times out — the reference's
    * bounded-stream semantics.
    *
    * Lowering: ONE compiled plan — every non-first step relaxed to a
    * left-outer (optional) binding, then a projection splits full from
    * partial rows; no second pass over the events. Linear plain
    * `followedBy`/`followedByIterative` patterns only (quantifiers, groups,
    * runs, strict steps, negatives and AFTER MATCH SKIP keep [[detect]]'s
    * match-only contract — named error). */
  def detectWithTimeouts(events: DataFrame, key: Column,
                         ts: Column): (DataFrame, DataFrame) = {
    require(windowMs.nonEmpty, "call within(...) before detectWithTimeouts")
    require(notStep.isEmpty && !skipPastLast && skipTo.isEmpty &&
      steps.forall(s => s.reps == 1 && !s.opt && !s.oneOrMore &&
        s.alts.isEmpty && s.inner2.isEmpty &&
        s.runOn.isEmpty && !s.strict && s.until.isEmpty &&
        !s.anyBranch && !s.combinations),
      "detectWithTimeouts() supports linear plain followedBy patterns " +
        "(quantifiers/groups/runs/strict/negative steps and AFTER MATCH " +
        "SKIP keep detect()'s match-only contract; the all-matches modes " +
        "have no single stuck-prefix notion to time out)")
    val relaxed = new Pattern(steps.head +: steps.tail.map(_.copy(opt = true)),
      None, windowMs)
    val all = relaxed.detect(events, key, ts)
    val tsCols = steps.map(s => col(s"${s.name}_ts"))
    val full = tsCols.map(_.isNotNull).reduce(_ && _)
    // prefix-truncate partials: a step's binding (and bound payload
    // columns) survives only if every EARLIER step bound too — the
    // relaxed compile lets a later step anchor past an unbound one, which
    // a stuck NFA partial never does
    val guarded = steps.zipWithIndex.flatMap { case (s, i) =>
      val boundPrefix = tsCols.take(i + 1).map(_.isNotNull).reduce(_ && _)
      (s"${s.name}_ts" +: s.keep.map(c => s"${s.name}_$c")).map(n =>
        when(boundPrefix, col(n)).as(n))
    }
    val keep = col("key") +: guarded
    val timeouts = all.filter(!full).select(keep :+
      (col(s"${steps.head.name}_ts") +
        expr(s"INTERVAL ${windowMs.get} MILLISECONDS")).as("timeout_ts"): _*)
    (all.filter(full), timeouts)
  }

  /** Per-column run aggregates for [[bindRun]] columns — sum/min/max only:
    * all primitive, so the run aggregate stays a HASH aggregate (a
    * min/max-over-struct agg would fall back to SortAggregate and sort the
    * whole member join output — the exact cost the q38/w17 guardrails ban). */
  private def runValAggs(name: String, keep: Seq[String],
                         src: String => Column): Seq[Column] =
    keep.flatMap { c => Seq(
      sum(src(c)).as(s"${name}_sum_$c"),
      min(src(c)).as(s"${name}_min_$c"),
      max(src(c)).as(s"${name}_max_$c")) }

  /** First/last member VALUES via the q38 pattern: pre-aggregate the
    * candidates' per-(key, ts[, seg]) value extremes once (hash aggregate),
    * then equi-join that tiny table back on the run's boundary timestamps.
    * first = min value at the first member's ts, last = max value at the
    * last member's ts — the same deterministic (ts, value) tie-break the
    * struct-min/max formulation had, with no Sort anywhere. `candVals` has
    * columns (__vk, __vts[, __vseg], __mn_<c>, __mx_<c>); `seg` adds the
    * segment-id equi-key for self-referential runs (candidates at one
    * (key, ts) can belong to different segments). Left joins: a zeroOrMore
    * empty run has null boundary ts and keeps null values. */
  private def joinBoundaryVals(out0: DataFrame, name: String, keep: Seq[String],
                               candVals: => DataFrame, seg: Boolean): DataFrame = {
    if (keep.isEmpty) return out0
    val valCols = Seq("__vk", "__vts") ++ (if (seg) Seq("__vseg") else Nil) ++
      keep.flatMap(c => Seq(s"__mn_$c", s"__mx_$c"))
    def joined(d: DataFrame, tsCol: String,
               outOf: String => (String, String)): DataFrame = {
      val cond = col("__k") === col("__vk") && col(tsCol) === col("__vts") &&
        (if (seg) col("__rseg") === col("__vseg") else lit(true))
      keep.foldLeft(d.join(candVals, cond, "left")) { (dd, c) =>
        val (alias, src) = outOf(c)
        dd.withColumn(alias, col(src))
      }.drop(valCols: _*)
    }
    val withFirst = joined(out0, s"${name}_first_ts",
      c => (s"${name}_first_$c", s"__mn_$c"))
    joined(withFirst, s"${name}_last_ts", c => (s"${name}_last_$c", s"__mx_$c"))
  }

  /** The per-(key, ts[, seg]) value-extremes table for [[joinBoundaryVals]].
    * With a [[tieBreak]] column (`tie`), the extremes are argmin/argmax by
    * `(tie, value)` — the composite ORDER BY's intra-timestamp order —
    * instead of plain value extremes; min_by/max_by are declarative
    * aggregates, so the table stays a HASH aggregate either way. */
  private def boundaryValTable(cand: DataFrame, keep: Seq[String],
                               segCol: Option[Column],
                               ties: Seq[Column] = Nil): DataFrame = {
    val aggs = keep.flatMap { c =>
      val v = col(s"__rm_$c")
      if (ties.isEmpty) Seq(min(v).as(s"__mn_$c"), max(v).as(s"__mx_$c"))
      else Seq(
        min_by(v, struct(ties :+ v: _*)).as(s"__mn_$c"),
        max_by(v, struct(ties :+ v: _*)).as(s"__mx_$c"))
    }
    cand.groupBy((col("__k3").as("__vk") +: col("__rts").as("__vts") +:
        segCol.map(_.as("__vseg")).toSeq): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Compile to a DataFrame of matches: one row per match, one `<name>_ts`
    * column per binding (suffixed `_1.._n` for quantified steps;
    * `_first_ts`/`_last_ts`/`_n` for oneOrMore runs). */
  /** The ALL-MATCHES compile path behind [[followedByAny]] /
    * [[allowCombinations]]: every match branch the reference NFA would
    * fork, as declarative plans.
    *
    *  - followedByAny chains: one keyed interval join per step — the join
    *    output IS the set of strictly-increasing in-window chains. No
    *    min-aggregation (that is what picks ONE match), no NFA, no state.
    *  - allowCombinations runs: the ≤window member list is collected per
    *    start (bounded by the window), a bitmask sequence exploded, and
    *    each subset filtered out of the list by bit — 2^m − 1 rows per
    *    start because that is the semantics the user opted into, guarded
    *    by a named error past `maxComb` members.
    *
    * Both are parallel in the key space and shuffle only on the key —
    * the same scale shape as [[detect]]'s first-match joins. */
  private def detectAllMatches(events: DataFrame, key: Column, ts: Column): DataFrame = {
    require(windowMs.nonEmpty, "call within(...) before detect")
    require(notStep.isEmpty && !skipPastLast && skipTo.isEmpty,
      "all-matches mode emits EVERY match — notFollowedBy / after-match " +
        "skip strategies exist to pick among matches and do not compose")
    val win = expr(s"INTERVAL ${windowMs.get} MILLISECONDS")
    val first = steps.head
    // the anchor must be a PLAIN begin step: quantifiers/alternation on it
    // are first-match machinery the all-matches compile would silently drop
    require(first.reps == 1 && first.optTail == 0 && !first.opt &&
      !first.oneOrMore && first.alts.isEmpty && first.inner2.isEmpty &&
      first.iter.isEmpty && first.runOn.isEmpty && first.until.isEmpty &&
      !first.strict,
      "all-matches mode needs a plain begin step — quantifiers/alternation/" +
        "groups on the anchor are first-match machinery (named rejection, " +
        "not a silent drop)")
    val startTs = s"${first.name}_ts"
    val anchors = events.filter(first.pred)
      .select((key.as("__k") +: ts.as(startTs) +:
        first.keep.map(c => col(c).as(s"${first.name}_$c"))): _*)
    if (steps.exists(_.combinations)) {
      val b = steps(1)
      // modifiers attached AFTER allowCombinations() would otherwise be
      // silently ignored — re-validate the shape at compile time
      require(b.combinations && !b.consec && b.until.isEmpty && b.keep.isEmpty &&
        b.reps == 1 && b.minRun == 1 && b.alts.isEmpty && b.inner2.isEmpty &&
        !b.opt && !b.strict && b.iter.isEmpty && b.runOn.isEmpty,
        "allowCombinations() composes with a PLAIN oneOrMore run only — " +
          "consecutive/until/bindRun/times/timesOrMore/alternation added " +
          "after it are first-match machinery (named rejection, not a " +
          "silent drop)")
      // trailing steps after the combinations run (reference Pattern.java:441
      // allows the toggle on any looping state — `A B+ C`): plain followedBy
      // only; anything else would silently change which subsets survive
      val trailing = steps.drop(2)
      trailing.foreach { s =>
        require(!s.anyBranch && !s.oneOrMore && !s.combinations && s.reps == 1 &&
          s.optTail == 0 && !s.opt && s.alts.isEmpty && !s.strict &&
          s.inner2.isEmpty && s.iter.isEmpty && s.runOn.isEmpty &&
          s.until.isEmpty && s.keep.isEmpty,
          s"allowCombinations trailing step '${s.name}': only a plain " +
            "followedBy composes after the combinations run — quantifiers/" +
            "groups/alternation/iterative/strict/bind() are first-match " +
            "machinery (named rejection, not a silent drop)")
      }
      val members = events.filter(b.pred).select(key.as("__k2"), ts.as("__mts"))
      // one subset family per anchor EVENT (the reference NFA forks per
      // event): a uniquifier keeps equal-(key, ts) anchors apart through
      // the grouping — it never reaches the output columns. The id is
      // DETERMINISTIC (per-key row_number over every anchor column):
      // with trailing steps the subset branch and the trailing-binding
      // branch both consume this frame and equi-join back on
      // (__k, __aid), and a nondeterministic id (monotonically_
      // increasing_id) recomputed independently in the two branches
      // could pair them differently — silently dropping subsets or
      // binding the wrong trailing events. Equal-(key, ts, payload)
      // anchors are IDENTICAL rows, so the arbitrary order among them is
      // permutation-invariant: any assignment yields the same join.
      val ww = org.apache.spark.sql.expressions.Window
      // order by the ORDERABLE anchor columns only: a bound payload of an
      // unorderable type (map) would make the row_number an
      // AnalysisException. Dropping it from the order is safe — anchors
      // tied on every orderable column share (key, ts), so their member
      // lists and trailing bindings are identical and any id assignment
      // among them joins to the same rows (each row still carries its own
      // payload through the subset branch)
      val anchorOrd = anchors.schema.fields
        .filter(f => f.name != "__k" &&
          org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(f.dataType))
        .map(f => col(f.name))
      val uAnchors = anchors.withColumn("__aid",
        row_number().over(ww.partitionBy(col("__k")).orderBy(anchorOrd.toIndexedSeq: _*)))
      val kept = uAnchors.columns.map(col)
      val lists = uAnchors.join(members,
          col("__k") === col("__k2") && col("__mts") > col(startTs) &&
            col("__mts") <= col(startTs) + win)
        .groupBy(kept.toIndexedSeq: _*)
        .agg(sort_array(collect_list(col("__mts"))).as("__ms"))
        .withColumn("__m",
          when(size(col("__ms")) > b.maxComb, raise_error(concat(
            lit("allowCombinations: a start has "), size(col("__ms")).cast("string"),
            lit(s" run members (max ${b.maxComb}) — 2^m subset branches; " +
              "raise maxCombinationMembers (<= 30) or narrow the window"))))
            .otherwise(size(col("__ms"))))
      // trailing bindings depend only on the subset's LAST member: compute
      // them once per (anchor, member) — O(m) rows per start — then join
      // back to the 2^m subset rows, never chained per subset. Each step
      // binds its FIRST in-window candidate strictly after the previous
      // binding (flink-cep followedBy takes the first match per branch);
      // a member whose chain cannot complete drops here, and its subsets
      // drop at the join below (a match requires every step).
      val trail: Option[DataFrame] = if (trailing.isEmpty) None else Some {
        var bounds = lists.select(col("__aid").as("__aid2"),
          col("__k").as("__bk"), col(startTs).as("__t0"),
          explode(col("__ms")).as("__lt"))
        var prev: Column = col("__lt")
        trailing.foreach { s =>
          val cand = events.filter(s.pred).select(key.as("__k3"), ts.as("__cts"))
          val keep = bounds.columns.map(col).toIndexedSeq
          bounds = bounds.join(cand,
              col("__bk") === col("__k3") && col("__cts") > prev &&
                col("__cts") <= col("__t0") + win)
            .groupBy(keep: _*)
            .agg(min(col("__cts")).as(s"${s.name}_ts"))
          prev = col(s"${s.name}_ts")
        }
        bounds.drop("__t0") // __bk stays: __aid is only per-key unique
      }
      val outCols = anchors.columns.map(col)
      // the bitmask EXPLODES IN TWO HALVES: one sequence(1, 2^m − 1) array
      // would materialize 2^m longs in a single row (~8.6 GB at the m = 30
      // ceiling — an executor OOM the [1, 30] guard would be presenting as
      // supported); splitting into high and low halves caps the largest
      // per-row array at 2^⌈m/2⌉ ≈ 32 K entries while producing the same
      // mask set {1 … 2^m − 1}
      val subsets = lists
        .withColumn("__lob", expr("__m div 2"))
        .withColumn("__hi", explode(expr(
          "sequence(cast(0 as bigint), shiftleft(cast(1 as bigint), __m - __lob) - 1)")))
        .withColumn("__lo", explode(expr(
          "sequence(cast(0 as bigint), shiftleft(cast(1 as bigint), __lob) - 1)")))
        .withColumn("__mask", expr("__hi * shiftleft(cast(1 as bigint), __lob) + __lo"))
        .filter(col("__mask") >= 1)
        .withColumn("__sel", expr(
          "filter(__ms, (x, i) -> ((__mask div shiftleft(cast(1 as bigint), i)) % 2) = 1)"))
        .select((outCols.toSeq :+ col("__aid") :+
          size(col("__sel")).cast("long").as(s"${b.name}_n") :+
          element_at(col("__sel"), 1).as(s"${b.name}_first_ts") :+
          element_at(col("__sel"), -1).as(s"${b.name}_last_ts")): _*)
      trail.fold(subsets.drop("__aid")) { t =>
        subsets.join(t, col("__k") === col("__bk") &&
            col("__aid") === col("__aid2") &&
            col(s"${b.name}_last_ts") === col("__lt"))
          .drop("__aid", "__aid2", "__lt", "__bk")
      }.withColumnRenamed("__k", "key")
    } else {
      require(steps.tail.forall(s => s.anyBranch && !s.oneOrMore &&
        s.reps == 1 && !s.opt && s.alts.isEmpty && !s.strict &&
        s.inner2.isEmpty && s.iter.isEmpty && s.runOn.isEmpty &&
        s.until.isEmpty && s.optTail == 0),
        "followedByAny chains compose only with plain followedByAny steps " +
          "(quantifiers/alternation/groups/iterative conditions are " +
          "first-match machinery). Rewrites: an all-matches BARE sequence " +
          "group (B C) is exactly followedByAny(B).followedByAny(C) — " +
          "under all-branches forking a group's members are just " +
          "consecutive steps, so flatten it; an all-matches RUN is " +
          "oneOrMore().allowCombinations() (every ordered member subset). " +
          "A QUANTIFIED or NESTED group under all-matches has no bounded " +
          "lowering: each repetition level multiplies the branch count by " +
          "its own subset lattice (the allowCombinations object per " +
          "level), so the output is doubly exponential in the window — " +
          "the reference NFA forks the same branches and detonates on " +
          "exactly this shape; compose allowCombinations runs per level " +
          "explicitly if that is really the intent")
      var out = anchors
      var prevTs: Column = col(startTs)
      steps.tail.foreach { s =>
        val cand = events.filter(s.pred)
          .select((key.as("__k2") +: ts.as(s"${s.name}_ts") +:
            s.keep.map(c => col(c).as(s"${s.name}_$c"))): _*)
        out = out.join(cand,
            col("__k") === col("__k2") && col(s"${s.name}_ts") > prevTs &&
              col(s"${s.name}_ts") <= col(startTs) + win)
          .drop("__k2")
        prevTs = col(s"${s.name}_ts")
      }
      out.withColumnRenamed("__k", "key")
    }
  }

  /** `maxEventsPerKey` bounds the PER-KEY row materialization of the
    * sequential walks (group chains at every depth, PREV(n>1)
    * segmentation, AFTER MATCH greedy selection) — a hot key past the
    * ceiling refuses by name instead of OOMing an executor (see
    * [[Pattern.DefaultMaxEventsPerKey]]). What it counts per walk: the
    * candidate rows of a key. For a group — the sequence group of
    * [[followedByGroup]], quantified or not, as much as a nested one —
    * that is one row per (event, group member it satisfies), plus one row
    * per begin-step event when the group directly follows the begin step
    * (the anchors ride the same scan) — an event that satisfies k members
    * counts k times. A sequence group therefore counts its member rows,
    * not pre-reduced sub-matches. The purely declarative paths never
    * materialize per-key state and ignore the bound. */
  def detect(events: DataFrame, key: Column, ts: Column,
             maxEventsPerKey: Int = Pattern.DefaultMaxEventsPerKey): DataFrame = {
    require(windowMs.nonEmpty, "call within(...) before detect")
    require(maxEventsPerKey >= 1,
      s"maxEventsPerKey must be >= 1 (got $maxEventsPerKey)")
    val maxPK = maxEventsPerKey // primitive copy for the per-key closures
    if (steps.exists(s => s.anyBranch || s.combinations))
      return detectAllMatches(events, key, ts)
    require(notStep.isEmpty || !steps.exists(_.oneOrMore),
      "oneOrMore() with a terminal notFollowedBy is not supported")
    // exact millisecond interval: integer-dividing into whole seconds would
    // silently shrink windows like within(1500) and break parity with the
    // streaming cepPattern, which honors withinMs exactly
    require(steps.head.iter.isEmpty, "the first step has no prior bindings")
    val win = expr(s"INTERVAL ${windowMs.get} MILLISECONDS")
    val expanded: Vector[Step] = steps.flatMap { s =>
      if (s.reps == 1 && s.optTail == 0) Vector(s)
      else {
        val mandatory = (1 to s.reps).map(i =>
          s.copy(name = s"${s.name}_$i", reps = 1, optTail = 0))
        val optionalTail = (s.reps + 1 to s.reps + s.optTail).map(i =>
          s.copy(name = s"${s.name}_$i", reps = 1, optTail = 0, opt = true))
        (mandatory ++ optionalTail).toVector
      }
    }
    // every event column, re-projected under the __c_ prefix iterative
    // predicates address via Pattern.ev (Catalyst prunes the unused ones)
    val evCols = events.columns.toSeq
    def candidate(s: Step): DataFrame = {
      val base = events.filter(s.pred)
      // classifier: first matching branch in declaration order
      val withCls = if (s.alts.isEmpty) base else base.withColumn("__cls",
        s.alts.tail.foldLeft(when(s.alts.head._2, lit(s.alts.head._1))) {
          case (acc, (n, p)) => acc.when(p, lit(n))
        })
      val clsCol = if (s.alts.isEmpty) Nil else Seq(col("__cls").as("__c___cls"))
      withCls.select(
        (key.as("__k2") +: ts.as("__cts") +:
          (evCols.map(c => col(c).as(s"__c_$c")) ++ clsCol)): _*)
    }
    val first = expanded.head
    val anchorProj = key.as("__k") +: ts.as(s"${first.name}_ts") +:
      first.keep.map(c => col(c).as(s"${first.name}_$c"))
    // the first step's frame: a nested group right after it folds this
    // frame into its own event scan
    val out0 = events.filter(first.pred).select(anchorProj: _*)
    var out = out0
    val startTs = s"${first.name}_ts"
    // the "time of the previous binding": for optional steps this falls back
    // to the binding before them when the step was skipped
    var prevTs: Column = col(startTs)
    expanded.tail.foreach { s =>
      if (s.runOn.isDefined) {
        // --- self-referential run (followedByRun): segment candidates into
        // maximal accept-chains per key, bind the earliest in-window segment
        // member, then collect the run by segment id — the next step binds
        // after the run's LAST member
        require(s.reps == 1 && !s.opt && !s.oneOrMore && s.alts.isEmpty && !s.strict,
          "followedByRun() composes with bindRun() only")
        val vcol = s.runOn.get
        val acc = s.runAccept.get
        val ww = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__rk")).orderBy(col("__rts"), col("__rv"))
        val base = events.filter(s.pred)
          .select((key.as("__rk") +: ts.as("__rts") +: col(vcol).as("__rv") +:
            s.keep.map(c => col(c).as(s"__rm_$c"))): _*)
        val candSeg = if (s.runOffset == 1) {
          base
            .withColumn("__pv", lag(col("__rv"), 1).over(ww))
            .withColumn("__viol",
              when(col("__pv").isNull || !acc(col("__rv"), col("__pv")), 1L).otherwise(0L))
            .withColumn("__seg", sum(col("__viol"))
              .over(ww.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
            .drop("__pv", "__viol")
        } else {
          // PREV(col, n), n > 1: the accept-vs-n-back comparison is still
          // declarative (one lag(n) window — runs are contiguous candidate
          // segments, so the run-relative n-back IS the global n-back
          // whenever the run already holds >= n members), but run RESTARTS
          // are a recursion no window expresses: a per-key linear scan
          // assigns segment ids — the reference NFA's per-key sequential
          // order, parallel in the key space, O(members) per key, with
          // only the pre-reduced candidate rows in memory
          val n = s.runOffset
          val okd = base
            .withColumn("__pvN", lag(col("__rv"), n).over(ww))
            .withColumn("__okN",
              when(col("__pvN").isNotNull && acc(col("__rv"), col("__pvN")), true)
                .otherwise(false))
            .drop("__pvN")
          val bSchema = okd.schema
          val outSchema = org.apache.spark.sql.types.StructType(
            bSchema.fields.filterNot(_.name == "__okN") :+
              org.apache.spark.sql.types.StructField("__seg",
                org.apache.spark.sql.types.LongType))
          val tsIdx = bSchema.fieldIndex("__rts")
          val rvIdx = bSchema.fieldIndex("__rv")
          val okIdx = bSchema.fieldIndex("__okN")
          val strEnc = org.apache.spark.sql.Encoders.STRING
          // precomputed label: interpolating s.name inside the closure
          // would capture the Step (whose Columns are not serializable)
          val walkLabel = s"followedByRun(${s.name}, offset = $n) per-key segmentation"
          okd.groupByKey(r => Pattern.keyString(r.get(0)))(strEnc)
            .flatMapGroups { (_, it) =>
              val rows = Pattern.boundedRows(it, maxPK, walkLabel)
              // (ts, value) order — the same ordering as the lag window
              java.util.Arrays.sort(rows, new java.util.Comparator[org.apache.spark.sql.Row] {
                def compare(a: org.apache.spark.sql.Row, b: org.apache.spark.sql.Row): Int = {
                  val c1 = Pattern.tsOf(a, tsIdx).compareTo(Pattern.tsOf(b, tsIdx))
                  if (c1 != 0) c1
                  else (a.get(rvIdx), b.get(rvIdx)) match {
                    case (x: Comparable[Any] @unchecked, y) => x.compareTo(y)
                    case _ => 0
                  }
                }
              })
              var start = 0
              rows.iterator.zipWithIndex.map { case (r, i) =>
                if (i > 0 && i - start >= n && !r.getBoolean(okIdx)) start = i
                org.apache.spark.sql.Row.fromSeq(
                  r.toSeq.patch(okIdx, Nil, 1) :+ start.toLong)
              }
            }(org.apache.spark.sql.Encoders.row(outSchema))
            .toDF()
        }
        // binding = min candidate ts (HASH agg — a struct-min would fall to
        // SortAggregate and sort the whole in-window join output), then the
        // segment id from a tiny per-(key, ts) min-seg table. Equal-ts
        // candidates: with a '<'-type accept the later-ordered tie always
        // breaks the chain, so min seg IS the (ts, value)-min candidate's
        // segment; with a '>'-type accept ties share one segment — either
        // way the binding is deterministic and matches the (ts, value, seg)
        // lexicographic-min the oracle replays.
        val kept0 = out.columns.map(col)
        out = out.join(candSeg.select(col("__rk"), col("__rts")),
            col("__k") === col("__rk") && col("__rts") > prevTs &&
              col("__rts") <= col(startTs) + win)
          .groupBy(kept0.toIndexedSeq: _*)
          .agg(min(col("__rts")).as(s"${s.name}_first_ts"))
        val segAt = candSeg.groupBy(col("__rk").as("__sk"), col("__rts").as("__sts"))
          .agg(min(col("__seg")).as("__rseg"))
        out = out.join(segAt, col("__k") === col("__sk") &&
            col(s"${s.name}_first_ts") === col("__sts"))
          .drop("__sk", "__sts")
        val mem = candSeg.select((col("__rk").as("__k3") +: col("__rts").as("__mts") +:
          col("__seg").as("__mseg") +: s.keep.map(c => col(s"__rm_$c").as(s"__mm_$c"))): _*)
        val kept1 = out.columns.map(col)
        val memAggs = count(lit(1)).as(s"${s.name}_n") +:
          runValAggs(s.name, s.keep, c => col(s"__mm_$c"))
        out = out.join(mem, col("__k") === col("__k3") &&
            col("__mseg") === col("__rseg") &&
            col("__mts") >= col(s"${s.name}_first_ts") &&
            col("__mts") <= col(startTs) + win)
          .groupBy(kept1.toIndexedSeq: _*)
          .agg(max(col("__mts")).as(s"${s.name}_last_ts"), memAggs: _*)
        out = joinBoundaryVals(out, s.name, s.keep,
          boundaryValTable(candSeg.withColumnRenamed("__rk", "__k3"),
            s.keep, Some(col("__seg"))), seg = true)
          .drop("__rseg")
        prevTs = col(s"${s.name}_last_ts")
      } else if (s.consec) {
        // --- CONSECUTIVE run (oneOrMore().consecutive()): members occupy
        // adjacent distinct event times; a time with no matching event
        // closes the run. Gaps-and-islands over the key's distinct event
        // times, then one keyed equi-join on the segment id (the
        // followedByRun shape; the window over distinct times per key is
        // inherent — the reference NFA also inspects every event per key)
        val ww = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__rk")).orderBy(col("__rts"))
        val candSeg = events
          .select(key.as("__rk"), ts.as("__rts"),
            when(s.pred, 1L).otherwise(0L).as("__isc0"))
          .groupBy(col("__rk"), col("__rts"))
          .agg(max(col("__isc0")).as("__isc"))
          .withColumn("__pisc", lag(col("__isc"), 1).over(ww))
          .withColumn("__viol", when(col("__isc") === 1L &&
            (col("__pisc").isNull || col("__pisc") === 0L), 1L).otherwise(0L))
          .withColumn("__seg", sum(col("__viol")).over(
            ww.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
          .filter(col("__isc") === 1L)
          .select(col("__rk"), col("__rts"), col("__seg"))
        val kept0 = out.columns.map(col)
        out = out.join(candSeg.select(col("__rk"), col("__rts")),
            col("__k") === col("__rk") && col("__rts") > prevTs &&
              col("__rts") <= col(startTs) + win)
          .groupBy(kept0.toIndexedSeq: _*)
          .agg(min(col("__rts")).as(s"${s.name}_first_ts"))
        // distinct times per key: the segment id at the bound time is unique
        val segAt = candSeg.select(col("__rk").as("__sk"),
          col("__rts").as("__sts"), col("__seg").as("__rseg"))
        out = out.join(segAt, col("__k") === col("__sk") &&
            col(s"${s.name}_first_ts") === col("__sts"))
          .drop("__sk", "__sts")
        val mem = candSeg.select(col("__rk").as("__k3"),
          col("__rts").as("__mts"), col("__seg").as("__mseg"))
        val kept1 = out.columns.map(col)
        out = out.join(mem, col("__k") === col("__k3") &&
            col("__mseg") === col("__rseg") &&
            col("__mts") >= col(s"${s.name}_first_ts") &&
            col("__mts") <= col(startTs) + win)
          .groupBy(kept1.toIndexedSeq: _*)
          .agg(max(col("__mts")).as(s"${s.name}_last_ts"),
            count(lit(1)).as(s"${s.name}_n"))
          .drop("__rseg")
        prevTs = col(s"${s.name}_last_ts")
      } else if (s.inner2.nonEmpty) {
        // --- group at ANY depth: the sequence group (I...)+ of
        // followedByGroup is depth 0, followedByNested{,2,3,N}Group's
        // (...((I...)+ L1...)+ ... LD...)+ is depth D = closings.size.
        // Lowered onto ONE keyed pass — the per-key event walk of the
        // reference NFA (flink-cep/.../nfa/NFA.java). One scan of `events`
        // emits one row per (event, pattern member it satisfies) carrying
        // only the columns the walk reads, plus one anchor row per
        // first-step event when the anchor frame is that step alone (a
        // longer prefix stays a second cogroup side). One grouping on the
        // key hands each key's rows to the walk, which reduces every member's rows
        // to distinct (ts, values) candidates, builds the inner sub-matches
        // itself (the earliest satisfying completion per first-inner
        // event, by the same binary search the closing levels use) and
        // walks the (D+1)-level chain: a level-0 repetition is one inner
        // sub-match, a level-l repetition a greedy chain of level-(l-1)
        // repetitions punctuated by the earliest SATISFYING
        // first-level-l-closer candidate, then the level-l closing steps
        // bound sequentially — reluctant close and greedy-no-backtracking
        // at every level. At depth 0 the outer chain takes the subs
        // directly (no closer punctuates them), and a group without
        // `+`/`*` (bare, optional(), each times(n) expansion) stops after
        // one repetition. The probe is called once per decision (punctuate
        // OR absorb), never recomputed, so the walk stays O(total bindings
        // · log candidates · depth) per key, bounded by `maxEventsPerKey`.
        val depthD = s.closings.size
        require(s.oneOrMore || depthD == 0,
          s"depth-$depthD nested group ${s.name}: quantify with " +
            "oneOrMore()/zeroOrMore()")
        // `<g>_n` under `+`/`*` only; the level totals and `<g>_inner_n`
        // at depth >= 1 only
        val counted = s.oneOrMore
        require(!s.groupRows || counted,
          s"materializeGroupRows on ${s.name}: only quantified ('+'/'*') " +
            "group chains materialize repetition rows")
        val inner2Names = s.inner2.map(_._1)
        // closing steps flattened in level order: closings(0) = the mids
        // (close level-1), ..., closings.last = the outer tails
        val closing2 = s.closings.flatten
        val nInner = s.inner2.size
        val nClosing = closing2.size
        // member tags: inner members, then the closing levels flattened
        val members = s.inner2 ++ closing2
        val nTags = members.size
        // the event columns the walk reads as doubles: bindGroup columns
        // and residual value columns. The tiebreak steers bindGroup values
        // only (membership and succession stay time-level)
        val valNames = (s.groupKeep.map(_._2) ++ s.tailRes.map(_._2) ++
          s.innerRes.map(_._2)).distinct
        val ties = if (s.groupKeep.isEmpty) Nil else s.tieCols
        // per tag: (value position, groupKeep index) of its bindGroup
        // columns, in groupKeep order
        val gkByTag: Array[Array[(Int, Int)]] = Array.tabulate(nTags)(t =>
          s.groupKeep.zipWithIndex.collect {
            case ((m, c), gi) if m == members(t)._1 => (valNames.indexOf(c), gi)
          }.toArray)
        // per tag: the residual's value position and op code (0 none, 1 <,
        // 2 <=, 3 >, 4 >=) — bindTailResidual on a closing member,
        // bindInnerResidual on an inner one — and its per-anchor threshold
        // (a Column over EARLIER bound columns, evaluated on the anchor
        // frame as `__thr<tag>`)
        val residuals = (s.tailRes ++ s.innerRes).map { case (m, c, op, thr) =>
          members.indexWhere(_._1 == m) -> ((valNames.indexOf(c), op match {
            case "<" => 1; case "<=" => 2; case ">" => 3; case _ => 4
          }, thr))
        }.toMap
        val resVal: Array[Int] = Array.tabulate(nTags)(t =>
          residuals.get(t).fold(-1)(_._1))
        val resOp: Array[Int] = Array.tabulate(nTags)(t =>
          residuals.get(t).fold(0)(_._2))
        val thrNames = residuals.keys.toSeq.sorted.map(t => s"__thr$t")
        def withAnchorCols(d: DataFrame): DataFrame =
          residuals.toSeq.sortBy(_._1).foldLeft(d) { case (acc, (t, (_, _, thr))) =>
            acc.withColumn(s"__thr$t", thr.cast("double"))
          }.withColumn("__gprev", prevTs).withColumn("__gwend", col(startTs) + win)
        val anchNames = out.columns.toSeq ++ thrNames ++ Seq("__gprev", "__gwend")
        // the anchor rides the member scan when it is the first step's
        // frame and its column names cannot shadow an event column
        val oneSide = (out eq out0) && {
          val evNames = events.columns.map(_.toLowerCase).toSet
          !anchNames.exists(n => evNames(n.toLowerCase))
        }
        val scanBase =
          if (oneSide) withAnchorCols(events.select(col("*") +: anchorProj: _*))
          else events
        val tagCol = explode(array((members.zipWithIndex.map { case ((_, p), t) =>
          when(p, lit(t)) } ++ (if (oneSide) Seq(when(first.pred, lit(-1))) else Nil)): _*))
        val memberRows = scanBase.filter(if (oneSide) s.pred || first.pred else s.pred)
          .select((Seq(key.as("__k"), tagCol.as("__tag"), ts.as("__t")) ++
            valNames.zipWithIndex.map { case (c, i) => col(c).cast("double").as(s"__v$i") } ++
            ties.zipWithIndex.map { case (c, i) => col(c).as(s"__tie$i") } ++
            (if (oneSide) Seq(when(first.pred, struct(anchNames.map(col): _*)).as("__anc"))
             else Nil)): _*)
          .filter(col("__tag").isNotNull)
        val anch = if (oneSide) null else withAnchorCols(out)
        val aSchema = if (!oneSide) anch.schema else memberRows.schema("__anc")
          .dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
        val prevIdx = aSchema.fieldIndex("__gprev")
        val wendIdx = aSchema.fieldIndex("__gwend")
        val thrIdx: Array[Int] = Array.tabulate(nTags)(t =>
          if (resOp(t) != 0) aSchema.fieldIndex(s"__thr$t") else -1)
        val ancIdx = if (oneSide) memberRows.schema.fieldIndex("__anc") else -1
        val nVals = valNames.size
        // the equal-ts tiebreak order: Spark's own ordering of struct(ties
        // ..., value), nulls first — what the min_by the flat group chain
        // aggregates with compares
        val tieTypes: Seq[org.apache.spark.sql.types.DataType] =
          ties.indices.map(i => memberRows.schema(3 + nVals + i).dataType) :+
            org.apache.spark.sql.types.DoubleType
        val winUs = windowMs.get * 1000L
        val nTies = ties.size
        // per-level repetition totals, outermost-first in the output: the
        // historical names — mid_n for level 1, mid{l}_n above it
        def lvlColName(l: Int): String =
          if (l == 1) s"${s.name}_mid_n" else s"${s.name}_mid${l}_n"
        val lvlFields = (depthD - 1 to 1 by -1).map(l =>
          org.apache.spark.sql.types.StructField(lvlColName(l),
            org.apache.spark.sql.types.LongType))
        // ALL ROWS: at depth 0 (materializeGroupRows) each repetition's
        // member timestamps and bindGroup values; above it
        // (materializeNestedRows) the struct (ts, cls, reps, mids{D-1},
        // ..., mids2, mids, subs[, vsum, vcnt]) — one running count per
        // nesting level, plus per-row value snapshots under bindGroup
        val rowsFields = if (!s.groupRows) Nil
          else if (depthD == 0) Seq(
            org.apache.spark.sql.types.StructField(s"${s.name}_reps",
              org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.ArrayType(
                  org.apache.spark.sql.types.TimestampType, true), false)),
            org.apache.spark.sql.types.StructField(s"${s.name}_repvals",
              org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.ArrayType(
                  org.apache.spark.sql.types.DoubleType, true), false)))
          else {
          val lvlRow = (depthD - 1 to 1 by -1).map(l =>
            org.apache.spark.sql.types.StructField(
              if (l == 1) "mids" else s"mids$l",
              org.apache.spark.sql.types.LongType))
          val base = Seq(
            org.apache.spark.sql.types.StructField("ts",
              org.apache.spark.sql.types.TimestampType),
            org.apache.spark.sql.types.StructField("cls",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("reps",
              org.apache.spark.sql.types.LongType)) ++ lvlRow ++ Seq(
            org.apache.spark.sql.types.StructField("subs",
              org.apache.spark.sql.types.LongType))
          val valRows = if (s.groupKeep.isEmpty) Nil else Seq(
            org.apache.spark.sql.types.StructField("vsum",
              org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.DoubleType, true)),
            org.apache.spark.sql.types.StructField("vcnt",
              org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.LongType, false)),
            // running MIN/MAX snapshots (r18, lifting the last per-row
            // value named rejection): null-ignoring, like the aggregates
            org.apache.spark.sql.types.StructField("vmin",
              org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.DoubleType, true)),
            org.apache.spark.sql.types.StructField("vmax",
              org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.DoubleType, true)),
            // running positional FIRST/LAST snapshots (r19, lifting the
            // final per-row value named rejection): the walk carries a
            // (value, positional bind count) pair per member, so a NULL
            // first binding freezes FIRST correctly — the output arrays
            // are the resolved values
            org.apache.spark.sql.types.StructField("vfst",
              org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.DoubleType, true)),
            org.apache.spark.sql.types.StructField("vlst",
              org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.DoubleType, true)))
          Seq(org.apache.spark.sql.types.StructField(s"${s.name}_rows",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.StructType(base ++ valRows), false)))
        }
        val outSchema = org.apache.spark.sql.types.StructType(
          aSchema.fields ++ Seq(
            org.apache.spark.sql.types.StructField(s"${s.name}_first_ts",
              org.apache.spark.sql.types.TimestampType),
            org.apache.spark.sql.types.StructField(s"${s.name}_last_ts",
              org.apache.spark.sql.types.TimestampType)) ++
          (if (counted) Seq(org.apache.spark.sql.types.StructField(
            s"${s.name}_n", org.apache.spark.sql.types.LongType)) else Nil) ++
          (if (depthD == 0) Nil else lvlFields :+
            org.apache.spark.sql.types.StructField(s"${s.name}_inner_n",
              org.apache.spark.sql.types.LongType)) ++
          Pattern.groupValFields(s.name, s.groupKeep) ++ rowsFields)
        // primitive closure copies — the Step itself (whose Columns are
        // not serializable) must never be captured
        val optGroup = s.opt
        val nD = depthD
        val lvlSizes: Array[Int] = s.closings.map(_.size).toArray
        // closing2 offset of level (l+1)'s first closing step
        val lvlOff: Array[Int] = lvlSizes.scanLeft(0)(_ + _).init
        val matRows = s.groupRows
        val innerOptFlag = s.innerOpt
        // all member names in tag order
        val clsNames = members.map(_._1).toArray
        val gkN = s.groupKeep.size
        // bindGroup columns of INNER members in groupKeep order: each sub
        // carries their values (`_3`), read at the member's bound ts
        val gkInner = s.groupKeep.zipWithIndex.filter {
          case ((m, _), _) => inner2Names.contains(m) }
        val gkInnerPos = gkInner.map(_._2).toArray
        // per entry: (inner tag, position in that tag's value array)
        val gkInnerSrc: Array[(Int, Int)] = gkInner.map { case ((m, _), gi) =>
          val im = inner2Names.indexOf(m)
          (im, gkByTag(im).indexWhere(_._2 == gi))
        }.toArray
        val gkStepPos = Array.tabulate(nClosing)(j => gkByTag(nInner + j).map(_._2))
        // per-row value snapshots: on whenever BOTH surfaces are on; per
        // inner member j the (index into the sub's value array, gk pos)
        // contributions
        val rowVals = matRows && gkN > 0
        val gkInnerByMember: Array[Array[(Int, Int)]] =
          Array.tabulate(nInner)(j =>
            gkInner.zipWithIndex.collect {
              case (((m, _), gi), vi) if m == inner2Names(j) => (vi, gi)
            }.toArray)
        val resOps2: Array[Int] = Array.tabulate(nClosing)(j => resOp(nInner + j))
        val resThrIdx2: Array[Int] = Array.tabulate(nClosing)(j => thrIdx(nInner + j))
        val innerThr = (0 until nInner).filter(resOp(_) != 0).toArray
        // diagnostic label parametrized on the ACTUAL depth
        val walkLabel2 =
          if (depthD == 0) s"group ${s.name} repetition chain walk"
          else s"depth-$depthD nested group ${s.name} " +
            s"${depthD + 1}-level chain walk"
        type Sub = (java.sql.Timestamp, java.sql.Timestamp,
          Array[java.lang.Double], Seq[java.sql.Timestamp])
        // one key's walk: `as` its anchor rows, `all` its member rows
        val walk = (nullKey: Boolean, as: Iterator[org.apache.spark.sql.Row],
                    all: Array[org.apache.spark.sql.Row]) => {
          // every member's rows reduced to distinct-ts candidates, sorted:
          // (ts, values) — the residual's per-ts extreme under a residual,
          // else the tie-broken bindGroup values, else null
          val tieOrd = if (nTies == 0) null
            else org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
              .forSchema(tieTypes)
          val byTag = Array.fill(nTags)(
            scala.collection.mutable.ArrayBuffer.empty[(java.sql.Timestamp,
              org.apache.spark.sql.Row)])
          // a null-ts event binds nothing (the joins' range predicates)
          all.foreach(r =>
            if (!r.isNullAt(2)) byTag(r.getInt(1)) += ((Pattern.tsOf(r, 2), r)))
          val cand: Array[Array[(java.sql.Timestamp, Array[java.lang.Double])]] =
            Array.tabulate(nTags) { t =>
              val rs = byTag(t).sortWith((p, q) => p._1.before(q._1))
              val out = scala.collection.mutable.ArrayBuffer.empty[
                (java.sql.Timestamp, Array[java.lang.Double])]
              var i = 0
              while (i < rs.length) {
                var e = i + 1
                while (e < rs.length && rs(e)._1.equals(rs(i)._1)) e += 1
                val grp = rs.slice(i, e).map(_._2)
                val vs: Array[java.lang.Double] =
                  if (resOp(t) != 0)
                    Array(Pattern.extremeOf(grp, 3 + resVal(t), resOp(t) >= 3))
                  else if (gkByTag(t).isEmpty) null
                  else gkByTag(t).map { case (vi, _) =>
                    Pattern.tieMinOf(grp, 3 + vi, 3 + nVals, nTies, tieOrd) }
                out += ((rs(i)._1, vs))
                i = e
              }
              out.toArray
            }
          // the inner sub-matches for one threshold tuple (indexed by
          // inner tag; null without inner residuals): per first-inner
          // candidate, each next member binds its earliest SATISFYING
          // candidate strictly after the previous binding, within the
          // window from the sub's start. A null key never completes one
          // (PARTITION BY keys equi-join).
          def subsFor(thr: Array[java.lang.Double]): Array[Sub] =
            if (nullKey) Array.empty[Sub] else {
              def ok(t: Int, x: Int): Boolean = resOp(t) == 0 ||
                Pattern.satisfies(resOp(t), cand(t)(x)._2(0), thr(t), sqlOrder = true)
              val c0 = cand(0)
              val res = scala.collection.mutable.ArrayBuffer.empty[Sub]
              val idx = new Array[Int](nInner)
              var i = 0
              while (i < c0.length) {
                if (ok(0, i)) {
                  val b = c0(i)._1
                  val bw = org.apache.spark.sql.catalyst.util.DateTimeUtils
                    .toJavaTimestamp(org.apache.spark.sql.catalyst.util
                      .DateTimeUtils.fromJavaTimestamp(b) + winUs)
                  idx(0) = i
                  var prev = b; var j = 1
                  while (j > 0 && j < nInner) {
                    val arr = cand(j)
                    var x = Pattern.firstAfter(arr, prev)
                    while (x < arr.length && !arr(x)._1.after(bw) && !ok(j, x)) x += 1
                    if (x >= arr.length || arr(x)._1.after(bw)) j = -1
                    else { idx(j) = x; prev = arr(x)._1; j += 1 }
                  }
                  if (j > 0) res += ((b, prev,
                    if (gkInnerSrc.isEmpty) null
                    else gkInnerSrc.map { case (im, p) => cand(im)(idx(im))._2(p) },
                    if (matRows) (0 until nInner).map(m => cand(m)(idx(m))._1)
                    else null))
                }
                i += 1
              }
              res.toArray
            }
          val subsDefault = if (innerThr.isEmpty) subsFor(null) else null
          val subsByThr = scala.collection.mutable.HashMap.empty[
            List[java.lang.Double], Array[Sub]]
          // closing-step candidates in level order
          val cands = Array.tabulate(nClosing)(j => cand(nInner + j))
          // an unquantified group binds once per distinct prefix row, as
          // the plain steps' join-and-aggregate binding does
          (if (counted) as else as.distinct).flatMap { a =>
            val tau = Pattern.tsOf(a, prevIdx)
            val wEnd = Pattern.tsOf(a, wendIdx)
            // bindInnerResidual: this anchor's subs are the ones built for
            // ITS threshold tuple (a null threshold never binds — SQL 3VL)
            val subs = if (innerThr.isEmpty) subsDefault else {
              val thr = new Array[java.lang.Double](nInner)
              innerThr.foreach(t => if (!a.isNullAt(thrIdx(t)))
                thr(t) = java.lang.Double.valueOf(a.getDouble(thrIdx(t))))
              subsByThr.getOrElseUpdate(thr.toList, subsFor(thr))
            }
            def subAfter(t: java.sql.Timestamp): Int = {
              var lo = 0; var hi = subs.length
              while (lo < hi) { val mid = (lo + hi) >>> 1
                if (subs(mid)._1.after(t)) hi = mid else lo = mid + 1 }
              lo
            }
            // bindTailResidual: the anchor's thresholds (null never
            // binds, SQL 3VL) and the satisfying-scan binding — first
            // candidate strictly after t whose per-ts extreme satisfies
            // the op; punctuation and binding share it
            val resThr2: Array[java.lang.Double] =
              Array.tabulate(nClosing)(j =>
                if (resThrIdx2(j) < 0 || a.isNullAt(resThrIdx2(j))) null
                else java.lang.Double.valueOf(a.getDouble(resThrIdx2(j))))
            def candBind(j: Int, t: java.sql.Timestamp): Int = {
              val arr = cands(j)
              var x = Pattern.firstAfter(arr, t)
              if (resOps2(j) != 0)
                while (x < arr.length && !Pattern.satisfies(resOps2(j),
                    arr(x)._2(0), resThr2(j), sqlOrder = false)) x += 1
              x
            }
            // === the depth-parametric repetition probe ===
            // One COMPLETED level-l repetition anchored strictly after t0:
            // a greedy chain of level-(l-1) repetitions (level 0 = one
            // inner sub-match), first one unconditional, the rest absorbed
            // only while they complete strictly BEFORE the earliest
            // satisfying first-level-l-closer candidate after the chain
            // end, then the level-l closing steps bound sequentially.
            // Returns null when no repetition completes in-window
            // (completion is monotone in start at every level: each stage
            // is an earliest-after over a shrinking candidate set, so no
            // later anchor completes earlier). The NestRep carries LOCAL
            // state — per-level unit counts, pending bindGroup values in
            // binding order, materialized rows with repetition-local
            // running counts and value snapshots — which the ABSORBING
            // parent resolves by its own running offsets: commit-at-
            // absorb, discard-at-speculation-failure, at every level.
            def repAt(l: Int, t0: java.sql.Timestamp): Pattern.NestRep = {
              val counts = new Array[Long](nD + 1)
              val pend = if (gkN > 0)
                scala.collection.mutable.ArrayBuffer.empty[(Int, java.lang.Double)]
              else null
              val rows = if (matRows)
                scala.collection.mutable.ArrayBuffer.empty[Pattern.NestRowL]
              else null
              val runS = if (rowVals) new Array[java.lang.Double](gkN) else null
              val runC = if (rowVals) new Array[Long](gkN) else null
              val runMn = if (rowVals) new Array[java.lang.Double](gkN) else null
              val runMx = if (rowVals) new Array[java.lang.Double](gkN) else null
              // positional FIRST/LAST (r19): value + bind count, LOCAL to
              // this repetition — resolved against the enclosing state at
              // absorb/commit time like the other snapshots
              val runFs = if (rowVals) new Array[java.lang.Double](gkN) else null
              val runLs = if (rowVals) new Array[java.lang.Double](gkN) else null
              val runBn = if (rowVals) new Array[Long](gkN) else null
              def applyVal(gi: Int, v: java.lang.Double): Unit =
                if (rowVals) {
                  if (runBn(gi) == 0) runFs(gi) = v
                  runLs(gi) = v
                  runBn(gi) += 1
                  if (v != null) {
                    runC(gi) += 1
                    runS(gi) = if (runS(gi) == null) v
                               else java.lang.Double.valueOf(runS(gi) + v)
                    runMn(gi) = Pattern.nmin(runMn(gi), v)
                    runMx(gi) = Pattern.nmax(runMx(gi), v)
                  }
                }
              var first: java.sql.Timestamp = null
              var e = t0
              // one inner sub-match absorbed into a level-1 chain: values
              // into the pending list, member rows with local counts and
              // own-contribution-inclusive value snapshots
              def absorbSub(idx: Int): Unit = {
                if (gkInnerPos.length > 0) {
                  val vs = subs(idx)._3
                  var p = 0
                  while (p < gkInnerPos.length) {
                    pend += ((gkInnerPos(p), vs(p))); p += 1
                  }
                }
                if (matRows) {
                  val mems = subs(idx)._4
                  var j = 0
                  while (j < mems.length) {
                    if (rowVals) {
                      val contrib = gkInnerByMember(j)
                      var p = 0
                      while (p < contrib.length) {
                        applyVal(contrib(p)._2, subs(idx)._3(contrib(p)._1))
                        p += 1
                      }
                    }
                    val cnt = new Array[Long](nD + 1)
                    // the final member completes the sub and counts it
                    cnt(0) = counts(0) + (if (j == mems.length - 1) 1 else 0)
                    rows += new Pattern.NestRowL(mems(j), j, cnt,
                      if (rowVals) runS.clone() else null,
                      if (rowVals) runC.clone() else null,
                      if (rowVals) runMn.clone() else null,
                      if (rowVals) runMx.clone() else null,
                      if (rowVals) runFs.clone() else null,
                      if (rowVals) runLs.clone() else null,
                      if (rowVals) runBn.clone() else null)
                    j += 1
                  }
                }
                counts(0) += 1
              }
              // one completed level-(l-1) repetition absorbed into this
              // chain: its local rows/snapshots resolve by THIS
              // repetition's running offsets, then its totals fold in
              def absorbChild(c: Pattern.NestRep): Unit = {
                if (matRows) {
                  val cr = c.rows
                  var i = 0
                  while (i < cr.length) {
                    val r = cr(i)
                    var q = 0
                    while (q <= nD) { r.cnt(q) += counts(q); q += 1 }
                    if (rowVals) {
                      var g = 0
                      while (g < gkN) {
                        if (runS(g) != null)
                          r.vs(g) = if (r.vs(g) == null) runS(g)
                                    else java.lang.Double.valueOf(r.vs(g) + runS(g))
                        r.vc(g) += runC(g)
                        r.vmn(g) = Pattern.nmin(r.vmn(g), runMn(g))
                        r.vmx(g) = Pattern.nmax(r.vmx(g), runMx(g))
                        // positional resolution: this repetition's bindings
                        // all PRECEDE the child's — its FIRST wins when it
                        // bound anything, its LAST only when the child row
                        // had no binding yet
                        if (runBn(g) > 0) {
                          r.vfs(g) = runFs(g)
                          if (r.vbn(g) == 0) r.vls(g) = runLs(g)
                        }
                        r.vbn(g) += runBn(g)
                        g += 1
                      }
                    }
                    rows += r
                    i += 1
                  }
                }
                if (rowVals) {
                  var g = 0
                  while (g < gkN) {
                    if (c.vS(g) != null)
                      runS(g) = if (runS(g) == null) c.vS(g)
                                else java.lang.Double.valueOf(runS(g) + c.vS(g))
                    runC(g) += c.vC(g)
                    runMn(g) = Pattern.nmin(runMn(g), c.vMn(g))
                    runMx(g) = Pattern.nmax(runMx(g), c.vMx(g))
                    if (c.vBn(g) > 0) {
                      if (runBn(g) == 0) runFs(g) = c.vFs(g)
                      runLs(g) = c.vLs(g)
                      runBn(g) += c.vBn(g)
                    }
                    g += 1
                  }
                }
                if (gkN > 0) pend ++= c.pend
                var q = 0
                while (q <= nD) { counts(q) += c.counts(q); q += 1 }
              }
              val closerOff = lvlOff(l - 1)
              if (l == 1) {
                val i0 = subAfter(t0)
                val subAvail = i0 < subs.length && !subs(i0)._2.after(wEnd)
                // innerOptional: the level-1 repetition may bind the mids
                // ALONE — mid-first when the earliest first-mid candidate
                // does not come strictly after the earliest completable
                // sub (ties favor the mid, the one-level inner-'*'
                // convention). The binary search runs only under the flag
                // — the inner-'+' probe is the walk's innermost hot path
                val midFirst = innerOptFlag && {
                  val mx0 = candBind(closerOff, t0)
                  mx0 < cands(closerOff).length &&
                    !cands(closerOff)(mx0)._1.after(wEnd) &&
                    (!subAvail || !subs(i0)._2.before(cands(closerOff)(mx0)._1))
                }
                if (!subAvail && !midFirst) return null
                if (!midFirst) {
                  first = subs(i0)._1
                  e = subs(i0)._2
                  absorbSub(i0)
                  var more = true
                  while (more) {
                    val nx = subAfter(e)
                    // the first-mid punctuation scans to a SATISFYING
                    // candidate under a mid residual — a failing mid
                    // cannot punctuate
                    val mx = candBind(closerOff, e)
                    val mCand = if (mx < cands(closerOff).length &&
                        !cands(closerOff)(mx)._1.after(wEnd)) cands(closerOff)(mx)._1
                      else null
                    if (nx >= subs.length || subs(nx)._2.after(wEnd) ||
                        (mCand != null && !subs(nx)._2.before(mCand))) more = false
                    else { e = subs(nx)._2; absorbSub(nx) }
                  }
                }
              } else {
                val c0 = repAt(l - 1, t0)
                if (c0 == null) return null
                first = c0.first
                e = c0.end
                absorbChild(c0)
                var more = true
                while (more) {
                  val wx = candBind(closerOff, e)
                  val wCand = if (wx < cands(closerOff).length &&
                      !cands(closerOff)(wx)._1.after(wEnd)) cands(closerOff)(wx)._1
                    else null
                  val nx = repAt(l - 1, e)
                  if (nx == null ||
                      (wCand != null && !nx.end.before(wCand))) more = false
                  else { e = nx.end; absorbChild(nx) }
                }
              }
              // bind the level-l closing steps sequentially
              var t2 = e; var ci = 0
              val nCl = lvlSizes(l - 1)
              while (ci < nCl) {
                val j = closerOff + ci
                val x = candBind(j, t2)
                if (x >= cands(j).length || cands(j)(x)._1.after(wEnd))
                  return null
                t2 = cands(j)(x)._1
                if (first == null) first = t2 // mid-first repetition
                if (gkStepPos(j).length > 0) {
                  val vs = cands(j)(x)._2
                  var p = 0
                  while (p < gkStepPos(j).length) {
                    val gi = gkStepPos(j)(p)
                    applyVal(gi, vs(p))
                    pend += ((gi, vs(p)))
                    p += 1
                  }
                }
                if (matRows) {
                  val cnt = counts.clone()
                  // only the FINAL closer completes the level-l repetition
                  // (the final-member-counts convention)
                  if (ci == nCl - 1) cnt(l) += 1
                  rows += new Pattern.NestRowL(t2, nInner + j, cnt,
                    if (rowVals) runS.clone() else null,
                    if (rowVals) runC.clone() else null,
                    if (rowVals) runMn.clone() else null,
                    if (rowVals) runMx.clone() else null,
                    if (rowVals) runFs.clone() else null,
                    if (rowVals) runLs.clone() else null,
                    if (rowVals) runBn.clone() else null)
                }
                ci += 1
              }
              counts(l) += 1
              new Pattern.NestRep(first, t2, counts, pend, rows, runS, runC,
                runMn, runMx, runFs, runLs, runBn)
            }
            // the match: a greedy chain of level-D (outer) repetitions to
            // window end — commit per completed repetition, with the
            // committed bindGroup running state and committed rows. A
            // null anchor time binds nothing (the joins' range predicates)
            var lastEnd = tau
            var first: java.sql.Timestamp = null
            val totals = new Array[Long](nD + 1)
            var done = tau == null || wEnd == null
            val vSum = new Array[java.lang.Double](gkN)
            val vMin = new Array[java.lang.Double](gkN)
            val vMax = new Array[java.lang.Double](gkN)
            val vFirst = new Array[java.lang.Double](gkN)
            val vLast = new Array[java.lang.Double](gkN)
            val vCnt = new Array[Long](gkN)
            val vSeen = new Array[Boolean](gkN)
            val allRows = if (matRows && nD > 0)
              scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
            else null
            // depth 0 (materializeGroupRows): each repetition's member
            // timestamps and bindGroup values
            val repTs = if (matRows && nD == 0)
              scala.collection.mutable.ArrayBuffer.empty[Seq[java.sql.Timestamp]]
            else null
            val repVals = if (matRows && nD == 0)
              scala.collection.mutable.ArrayBuffer.empty[Seq[java.lang.Double]]
            else null
            if (nD == 0) while (!done) {
              // depth 0: a repetition is one inner sub-match, the earliest
              // starting strictly after the previous one's end
              val i = subAfter(lastEnd)
              if (i >= subs.length || subs(i)._2.after(wEnd)) done = true
              else {
                val sb = subs(i)
                if (totals(0) == 0) first = sb._1
                lastEnd = sb._2
                totals(0) += 1
                var p = 0
                while (p < gkInnerPos.length) {
                  Pattern.commitVal(gkInnerPos(p), sb._3(p),
                    vSum, vMin, vMax, vFirst, vLast, vCnt, vSeen)
                  p += 1
                }
                if (matRows) {
                  repTs += sb._4
                  repVals += (if (sb._3 == null) Nil else sb._3.toSeq)
                }
                done = !counted
              }
            } else while (!done) {
              val r = repAt(nD, lastEnd)
              if (r == null) done = true
              else {
                if (totals(nD) == 0) first = r.first
                if (matRows) {
                  // commit this repetition's rows: local counts resolve
                  // to global running counts, local value snapshots add
                  // the COMMITTED totals (the rows resolve before
                  // commitVal folds this repetition's own values)
                  val n0 = totals(nD)
                  var i = 0
                  while (i < r.rows.length) {
                    val rw = r.rows(i)
                    val lvlCols: Seq[Any] =
                      (nD - 1 to 1 by -1).map(l => totals(l) + rw.cnt(l))
                    val base: Seq[Any] = Seq(rw.ts, clsNames(rw.ci),
                      n0 + rw.cnt(nD)) ++ lvlCols ++ Seq(totals(0) + rw.cnt(0))
                    val valPart: Seq[Any] = if (!rowVals) Nil else {
                      val vsArr = (0 until gkN).map { g =>
                        if (rw.vs(g) == null) vSum(g)
                        else if (vSum(g) == null) rw.vs(g)
                        else java.lang.Double.valueOf(vSum(g) + rw.vs(g))
                      }
                      val vcArr = (0 until gkN).map(g => vCnt(g) + rw.vc(g))
                      val vmnArr = (0 until gkN).map(g =>
                        Pattern.nmin(vMin(g), rw.vmn(g)))
                      val vmxArr = (0 until gkN).map(g =>
                        Pattern.nmax(vMax(g), rw.vmx(g)))
                      // positional FIRST/LAST resolve against the COMMITTED
                      // state (vSeen carries nullability separately): a
                      // committed binding wins FIRST; the row's local LAST
                      // wins when the row has bound anything
                      val vfsArr = (0 until gkN).map(g =>
                        if (vSeen(g)) vFirst(g) else rw.vfs(g))
                      val vlsArr = (0 until gkN).map(g =>
                        if (rw.vbn(g) > 0) rw.vls(g) else vLast(g))
                      Seq(vsArr, vcArr, vmnArr, vmxArr, vfsArr, vlsArr)
                    }
                    allRows += org.apache.spark.sql.Row.fromSeq(base ++ valPart)
                    i += 1
                  }
                }
                lastEnd = r.end
                var q = 0
                while (q <= nD) { totals(q) += r.counts(q); q += 1 }
                if (gkN > 0) r.pend.foreach { case (gi, v) =>
                  Pattern.commitVal(gi, v, vSum, vMin, vMax, vFirst, vLast, vCnt, vSeen) }
              }
            }
            val n = totals(nD)
            val nCols: Seq[Any] = if (counted) Seq(n) else Nil
            val lvlCols: Seq[Any] = if (nD == 0) Nil
              else (nD - 1 to 0 by -1).map(l => totals(l))
            // an unbound optional() repetition leaves every value column
            // null, cnt included, like an unbound optional step's payload
            val valCols: Seq[Any] = (0 until gkN).flatMap(j =>
              Seq(vSum(j), vMin(j), vMax(j), vFirst(j), vLast(j),
                if (n == 0 && !counted) null else vCnt(j)))
            val rowsCols: Seq[Any] = if (!matRows) Nil
              else if (nD == 0) Seq(repTs.toSeq, repVals.toSeq)
              else Seq(allRows.toSeq)
            // an empty chain of a `*` or optional() group keeps the match
            // row with null boundaries
            if (n == 0 && !optGroup) Iterator.empty
            else Iterator.single(org.apache.spark.sql.Row.fromSeq(
              a.toSeq ++ Seq(first, if (n == 0) null else lastEnd) ++ nCols ++
                lvlCols ++ valCols ++ rowsCols))
          }
        }
        // grouped on the key column itself: no key function to project
        def byKey(d: DataFrame, k: String) = d.groupBy(col(k)).as[
          org.apache.spark.sql.Row, org.apache.spark.sql.Row](
          org.apache.spark.sql.Encoders.row(
            org.apache.spark.sql.types.StructType(Seq(d.schema(k)))),
          org.apache.spark.sql.Encoders.row(d.schema))
        val outEnc = org.apache.spark.sql.Encoders.row(outSchema)
        val chained = if (oneSide) byKey(memberRows, "__k").flatMapGroups { (k, it) =>
            val (as, ms) = Pattern.boundedRows(it, maxPK, walkLabel2)
              .partition(_.getInt(1) < 0)
            walk(k.isNullAt(0), as.iterator.map(_.getStruct(ancIdx)), ms)
          }(outEnc)
          else byKey(anch, "__k").cogroup(byKey(memberRows, "__k")) { (k, as, ms) =>
            walk(k.isNullAt(0), as, Pattern.boundedRows(ms, maxPK, walkLabel2))
          }(outEnc)
        out = chained.toDF().drop(("__gprev" +: "__gwend" +: thrNames): _*)
        prevTs = if (s.opt) coalesce(col(s"${s.name}_last_ts"), prevTs)
                 else col(s"${s.name}_last_ts")
      } else {
      if (s.strict) {
        // strict contiguity: the successor TIME (earliest event of any type
        // strictly after the previous binding, in-window); the predicate
        // join below may only bind at exactly this time
        val anyCand = events.select(key.as("__k4"), ts.as("__ats"))
        val kept0 = out.columns.map(col)
        out = out.join(anyCand,
            col("__k") === col("__k4") && col("__ats") > prevTs &&
              col("__ats") <= col(startTs) + win)
          .groupBy(kept0.toIndexedSeq: _*)
          .agg(min(col("__ats")).as("__succ_ts"))
      }
      val kept = out.columns.map(col)
      val joined = out.join(candidate(s),
        col("__k") === col("__k2") && col("__cts") > prevTs &&
          col("__cts") <= col(startTs) + win && s.iter.getOrElse(lit(true)) &&
          (if (s.strict) col("__cts") === col("__succ_ts") else lit(true)),
        if (s.opt) "left_outer" else "inner")
      // binding payload beyond the timestamp: the alternation classifier
      // (if any) then bound columns — also the equal-ts tie-break order
      val payload: Seq[(String, String)] = // (struct field/out suffix, source)
        // tieBreak on a plain alternation step (r18): the tie columns lead
        // the refinement, so equal-ts candidates bind by (ts, ties...,
        // cls, keeps) — the tiebreak steers which branch classifies
        (if (s.alts.isEmpty) Nil
         else s.tieCols.map(c => c -> s"__c_$c") :+ ("cls" -> "__c___cls")) ++
          // bindRun columns on a oneOrMore step route to the run aggregate,
          // not the first-occurrence binding (a column already refined as a
          // tie is skipped — re-refining it is idempotent and would
          // duplicate the output column)
          (if (s.oneOrMore) Nil else s.keep.filterNot(c =>
            s.alts.nonEmpty && s.tieCols.contains(c)).map(c => c -> s"__c_$c"))
      out =
        if (payload.isEmpty)
          joined.groupBy(kept.toIndexedSeq: _*).agg(min(col("__cts")).as(s"${s.name}_ts"))
        else if (s.iter.isEmpty) {
          // earliest binding with payload, HASH-only (the q38 pattern): bind
          // the min ts with a hash aggregate, then resolve the lexicographic
          // (ts, payload...) tie-break by successive refinement — one tiny
          // per-(key, ts, bound-prefix) min table over the CANDIDATES per
          // payload column, equi-joined back. The struct-min alternative
          // falls back to SortAggregate and sorts the whole binding-join
          // output (matches × in-window candidates) — the cost the q38/w17
          // guardrails ban. Window/strict conditions are uniform across
          // candidates at one (key, ts), so the per-(key, ts) argmin equals
          // the per-match argmin.
          var g = joined.groupBy(kept.toIndexedSeq: _*)
            .agg(min(col("__cts")).as(s"${s.name}_ts"))
          var fixed: Seq[(String, String)] = Nil // (suffix, src) already refined
          payload.foreach { case (n, src) =>
            val grp = col("__k2").as("__pk") +: col("__cts").as("__pts") +:
              fixed.map { case (fn, fsrc) => col(fsrc).as(s"__pf_$fn") }
            val tbl = candidate(s).groupBy(grp: _*)
              .agg(min(col(src)).as(s"${s.name}_$n"))
            val cond = col("__k") === col("__pk") &&
              col(s"${s.name}_ts") === col("__pts") &&
              fixed.map { case (fn, _) => col(s"${s.name}_$fn") === col(s"__pf_$fn") }
                .foldLeft(lit(true))(_ && _)
            // left join: an optional-tail expansion's null binding keeps its
            // row with null payload
            g = g.join(tbl, cond, "left")
              .drop(("__pk" +: "__pts" +: fixed.map(f => s"__pf_${f._1}")): _*)
            fixed = fixed :+ (n -> src)
          }
          g
        } else {
          // ITERATIVE steps: the residual admits candidates per match, so a
          // global per-(key, ts) argmin would see candidates this match's
          // residual rejected. Bind the min ts (hash), then refine each
          // payload column by re-joining the candidates PER MATCH at the
          // bound timestamp with the residual re-applied — the join output
          // is matches × candidates-at-one-ts (tiny), and the aggregate
          // stays hash for primitive payloads. No struct-min, no sort of
          // the full binding-join output.
          var g = joined.groupBy(kept.toIndexedSeq: _*)
            .agg(min(col("__cts")).as(s"${s.name}_ts"))
          var fixed: Seq[String] = Nil // payload suffixes already refined
          payload.foreach { case (n, src) =>
            val keptG = g.columns.map(col)
            val refCond = col("__k") === col("__k2") &&
              col("__cts") === col(s"${s.name}_ts") && s.iter.get &&
              fixed.map(fn => {
                val fsrc = payload.collectFirst { case (`fn`, fs) => fs }.get
                col(s"${s.name}_$fn") === col(fsrc)
              }).foldLeft(lit(true))(_ && _)
            g = g.join(candidate(s), refCond, "left")
              .groupBy(keptG.toIndexedSeq: _*)
              .agg(min(col(src)).as(s"${s.name}_$n"))
            fixed = fixed :+ n
          }
          g
        }
      if (s.strict) out = out.drop("__succ_ts")
      prevTs = if (s.opt) coalesce(col(s"${s.name}_ts"), prevTs) else col(s"${s.name}_ts")
      }
    }
    notStep.foreach { s =>
      if (s.strict) {
        // notNext: the successor time is computed with a LEFT OUTER join —
        // a match with no further in-window event passes vacuously
        val anyCand = events.select(key.as("__k4"), ts.as("__ats"))
        val kept0 = out.columns.map(col)
        out = out.join(anyCand,
            col("__k") === col("__k4") && col("__ats") > prevTs &&
              col("__ats") <= col(startTs) + win, "left_outer")
          .groupBy(kept0.toIndexedSeq: _*)
          .agg(min(col("__ats")).as("__succ_ts"))
        out = out.join(candidate(s),
            col("__k") === col("__k2") && col("__cts") === col("__succ_ts") &&
              s.iter.getOrElse(lit(true)), "left_anti")
          .drop("__succ_ts")
      } else {
        out = out.join(candidate(s),
          col("__k") === col("__k2") && col("__cts") > prevTs &&
            col("__cts") <= col(startTs) + win && s.iter.getOrElse(lit(true)), "left_anti")
      }
    }
    // oneOrMore run aggregation: the chain above bound the FIRST occurrence;
    // one more keyed equi-join collects the run up to the next binding (or
    // the window end when the run ends the pattern)
    expanded.zipWithIndex.filter(p => p._1.oneOrMore && p._1.inner2.isEmpty &&
        !p._1.consec)
      .foreach { case (st, i) =>
      val name = st.name
      val pred = st.pred
      val nextName = expanded.lift(i + 1).map(_.name)
      // until(cond): bind the earliest stop event after the run's first
      // occurrence; run members must precede it
      steps.find(_.name == name).flatMap(_.until).foreach { uPred =>
        val ucand = events.filter(uPred).select(key.as("__k5"), ts.as("__uts"))
        val kept0 = out.columns.map(col)
        out = out.join(ucand,
            col("__k") === col("__k5") && col("__uts") > col(s"${name}_ts") &&
              col("__uts") <= col(startTs) + win, "left_outer")
          .groupBy(kept0.toIndexedSeq: _*)
          .agg(min(col("__uts")).as("__until_ts"))
      }
      val hasUntil = steps.find(_.name == name).exists(_.until.nonEmpty)
      // quantified alternation (B|C)+: each member carries a one-hot branch
      // indicator under its CLASSIFIER (first matching branch in declaration
      // order — an event satisfying several branches counts once), so the
      // run aggregate emits per-branch member counts summing to <name>_n
      val branchInd: Seq[Column] = if (st.alts.isEmpty) Nil else {
        val clsExpr = st.alts.tail.foldLeft(
          when(st.alts.head._2, lit(st.alts.head._1))) {
          case (acc, (n2, p2)) => acc.when(p2, lit(n2))
        }
        st.alts.map { case (bn, _) =>
          when(clsExpr === bn, 1L).otherwise(0L).as(s"__rb_$bn") }
      }
      val cand = events.filter(pred).select((key.as("__k3") +: ts.as("__rts") +:
        (st.keep.map(c => col(c).as(s"__rm_$c")) ++ branchInd ++
          st.tieCols.zipWithIndex.map { case (t, i) =>
            col(t).as(s"__rtie$i") })): _*)
      val upperCond = (nextName match {
        case Some(nx) => col("__rts") < col(s"${nx}_ts")
        case None => col("__rts") <= col(startTs) + win
      }) && (if (hasUntil) col("__until_ts").isNull || col("__rts") < col("__until_ts")
             else lit(true))
      val kept = out.columns.map(col)
      // zeroOrMore (opt=true): an empty run keeps the match row through a
      // left-outer join with null run columns and count 0
      val branchAggs = st.alts.map { case (bn, _) =>
        // empty zeroOrMore runs: sum over the null left-outer row is null,
        // coalesced to 0 to match count() = 0
        coalesce(sum(col(s"__rb_$bn")), lit(0L)).as(s"${name}_n_$bn") }
      out = out.join(cand,
          col("__k") === col("__k3") && col("__rts") >= col(s"${name}_ts") && upperCond,
          if (st.opt) "left_outer" else "inner")
        .groupBy(kept.toIndexedSeq: _*)
        .agg(max(col("__rts")).as(s"${name}_last_ts"),
          (count(col("__rts")).as(s"${name}_n") +:
            (runValAggs(name, st.keep, c => col(s"__rm_$c")) ++ branchAggs)): _*)
        .withColumnRenamed(s"${name}_ts", s"${name}_first_ts")
        .drop("__until_ts")
      out = joinBoundaryVals(out, name, st.keep,
        boundaryValTable(cand, st.keep, None,
          st.tieCols.indices.map(i => col(s"__rtie$i"))), seg = false)
    }
    // timesOrMore(n): a start whose maximal run holds fewer than n members
    // never reaches the reference NFA's final state — drop it here, BEFORE
    // after-match skip strategies claim its events
    steps.filter(s => s.oneOrMore && s.minRun > 1).foreach { s =>
      out = out.filter(col(s"${s.name}_n") >= s.minRun)
    }
    val matches = out.withColumnRenamed("__k", "key")
    if (skipPastLast) greedyAfterMatch(matches, startName = startTs, None, maxPK)
    else skipTo match {
      case None => matches
      case Some((v, isLast)) =>
        val cols = matches.columns.toSet
        val restart: Column =
          if (cols(s"${v}_ts")) col(s"${v}_ts")
          else if (cols(s"${v}_first_ts") && cols(s"${v}_last_ts"))
            col(if (isLast) s"${v}_last_ts" else s"${v}_first_ts")
          else {
            // quantified expansions v_1_ts..v_k_ts; LAST coalesces backwards
            // over the nullable optional tail
            val exp = Iterator.from(1).map(i => s"${v}_${i}_ts")
              .takeWhile(cols).toList
            require(exp.nonEmpty,
              s"AFTER MATCH SKIP TO: '$v' is not a bound pattern variable")
            if (isLast) coalesce(exp.reverse.map(col): _*) else col(exp.head)
          }
        greedyAfterMatch(matches, startName = startTs, Some(restart), maxPK)
    }
  }

  /** The AFTER MATCH greedy chain shared by both skip strategies: per-key
    * selection in (start, end) order, keeping a match when its start clears
    * the running threshold, then advancing the threshold. The two
    * strategies differ only in the comparison and the threshold source —
    *   SKIP_PAST_LAST_EVENT (`restart` = None): strict (`start > t`),
    *     threshold = the kept match's last bound event time;
    *   SKIP_TO_FIRST/LAST(v) (`restart` = Some(col)): inclusive
    *     (`start >= t`), threshold advances monotonically to the kept
    *     match's restart binding (null restart — unbound optional/empty
    *     run — restarts at the match's own start).
    * Greedy selection is inherently sequential per key, parallel in the key
    * space; per-key match lists are window-bounded. */
  private def greedyAfterMatch(matches0: DataFrame, startName: String,
                               restart: Option[Column], maxPK: Int): DataFrame = {
    val matches = restart.fold(matches0)(rc =>
      matches0.withColumn("__restart_ts", coalesce(rc, col(startName))))
    val schema = matches.schema
    val keyIdx = schema.fieldIndex("key")
    val startIdx = schema.fieldIndex(startName)
    val rIdx = restart.map(_ => schema.fieldIndex("__restart_ts"))
    val inclusive = restart.isDefined
    val tsIdx = schema.fields.zipWithIndex.collect {
      case (f, i) if f.dataType == org.apache.spark.sql.types.TimestampType ||
        f.dataType == org.apache.spark.sql.types.TimestampNTZType => i
    }
    implicit val rowEnc = org.apache.spark.sql.Encoders.row(schema)
    val kept = matches.groupByKey(r => Pattern.keyString(r.get(keyIdx)))(
        org.apache.spark.sql.Encoders.STRING)
      .flatMapGroups { (_, it) =>
        def endOf(r: org.apache.spark.sql.Row): Long =
          tsIdx.flatMap(i => Option(Pattern.tsOf(r, i)).map(_.getTime)).max
        val rows = Pattern.boundedRows(it, maxPK, "AFTER MATCH greedy selection")
          .sortBy(r => (Pattern.tsOf(r, startIdx).getTime, endOf(r)))
        var threshold = Long.MinValue
        rows.iterator.filter { r =>
          val start = Pattern.tsOf(r, startIdx).getTime
          val keep = if (inclusive) start >= threshold else start > threshold
          if (keep) threshold = rIdx match {
            case Some(i) => math.max(threshold, Pattern.tsOf(r, i).getTime)
            case None => endOf(r)
          }
          keep
        }
      }.toDF()
    restart.fold(kept)(_ => kept.drop("__restart_ts"))
  }
}

object Pattern extends Serializable {
  def begin(name: String, pred: Column): Pattern =
    new Pattern(Vector(Step(name, pred)), None, None)

  /** One COMPLETED level-l repetition of the depth-N nested-group walk
    * (task-local, never serialized): boundaries, per-level unit counts
    * LOCAL to the repetition (`counts(0)` inner subs, `counts(i)` level-i
    * repetitions, `counts(l)` == 1 — itself), pending bindGroup values in
    * binding order, materialized rows with repetition-local running
    * counts/snapshots, and the repetition's own value totals (`vS`/`vC`)
    * for the parent's snapshot resolution. */
  private[cep] final class NestRep(
      val first: java.sql.Timestamp, val end: java.sql.Timestamp,
      val counts: Array[Long],
      val pend: scala.collection.mutable.ArrayBuffer[(Int, java.lang.Double)],
      val rows: scala.collection.mutable.ArrayBuffer[NestRowL],
      val vS: Array[java.lang.Double], val vC: Array[Long],
      val vMn: Array[java.lang.Double], val vMx: Array[java.lang.Double],
      val vFs: Array[java.lang.Double], val vLs: Array[java.lang.Double],
      val vBn: Array[Long])

  /** null-ignoring running extremes (the commitVal convention): null
    * means "no non-null value yet", so merging is null-aware min/max. */
  private[cep] def nmin(a: java.lang.Double, b: java.lang.Double): java.lang.Double =
    if (a == null) b else if (b == null) a else if (a <= b) a else b
  private[cep] def nmax(a: java.lang.Double, b: java.lang.Double): java.lang.Double =
    if (a == null) b else if (b == null) a else if (a >= b) a else b

  /** One materialized bound event of the walk, counts/snapshots still
    * LOCAL to the repetition being built — resolved to enclosing offsets
    * at ABSORB time and to global totals at COMMIT time (mutated in
    * place: each row belongs to exactly one repetition). */
  private[cep] final class NestRowL(
      val ts: java.sql.Timestamp, val ci: Int, val cnt: Array[Long],
      val vs: Array[java.lang.Double], val vc: Array[Long],
      val vmn: Array[java.lang.Double], val vmx: Array[java.lang.Double],
      // running positional FIRST/LAST snapshots (r19): value + positional
      // bind count carried SEPARATELY, so a null first binding stays
      // frozen (the (value, bound) slot-pair convention — nullability is
      // not inferred from the value)
      val vfs: Array[java.lang.Double], val vls: Array[java.lang.Double],
      val vbn: Array[Long])

  /** Default per-key candidate ceiling for the sequential per-key walks
    * (group/nested repetition chains, PREV(n>1) segmentation, AFTER MATCH
    * greedy selection). The declarative join/agg steps never materialize a
    * key's rows; only these walks do — and the reference's SharedBuffer
    * (flink-cep/.../sharedbuffer/SharedBuffer.java) grows per-key state
    * unboundedly there and simply falls over on a hot key. 2M rows ≈
    * low-hundreds MB of boxed rows per task — within an executor's
    * working budget at local[32] sizing, and a loud named error past it
    * (the maxComb precedent) instead of a silent executor OOM. */
  val DefaultMaxEventsPerKey: Int = 2000000

  /** The rejection every group builder shares: the walk's repetition unit
    * is a sub-sequence of at least two steps, at every depth. */
  private[cep] val TwoStepSubGroup: String =
    "a group's innermost sub-sequence needs at least two steps " +
      "(followedByGroup and every followedByNested*Group alike); a " +
      "single-variable inner '+' has no group lowering"

  /** Drain `it` into an array, refusing by name past `max` rows — the
    * skew guard for the per-key walks. */
  private[cep] def boundedRows(it: Iterator[org.apache.spark.sql.Row], max: Int,
      what: String): Array[org.apache.spark.sql.Row] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    while (it.hasNext) {
      if (buf.length >= max)
        throw new IllegalStateException(
          s"$what: a key holds more than $max candidate rows " +
            "(maxEventsPerKey) — the per-key walk would materialize them " +
            "all; raise detect(..., maxEventsPerKey = ...), narrow the " +
            "step predicates or the within() window, or split the hot key")
      buf += it.next()
    }
    buf.toArray
  }

  /** Collision-free key rendering for per-key JVM grouping: composite
    * PARTITION BY keys are struct Rows whose toString ("[a,b]") can collide
    * across distinct keys when field strings contain delimiters —
    * length-prefix every field instead. Lives on the (serializable)
    * companion so groupByKey closures never capture a Pattern instance. */
  /** NTZ-tolerant timestamp read: sources normally normalize TIMESTAMP_NTZ
    * to TIMESTAMP (sources/Tables.scala), but if an un-normalized frame
    * reaches the per-key scans, read the value as whatever JVM object Spark
    * handed us rather than ClassCastException-ing. NTZ values are interpreted
    * at UTC — the same convention the TimestampType cast uses under the
    * engine's UTC session zone, so both paths agree on the instant. */
  private[cep] def anyToTs(v: Any): java.sql.Timestamp = v match {
    case null => null
    case t: java.sql.Timestamp => t
    case ldt: java.time.LocalDateTime =>
      java.sql.Timestamp.from(ldt.toInstant(java.time.ZoneOffset.UTC))
    case inst: java.time.Instant => java.sql.Timestamp.from(inst)
    case o => throw new IllegalStateException(
      s"timestamp column holds ${o.getClass.getName}")
  }

  /** Per bound (member, col): sum/min/max/first/last (double) + cnt (long)
    * — the bindGroup output schema, ONE builder shared by the one-level
    * group chain and the nested chain so the naming cannot diverge. */
  private[cep] def groupValFields(name: String,
      groupKeep: Seq[(String, String)]): Seq[org.apache.spark.sql.types.StructField] =
    groupKeep.flatMap { case (m, c) =>
      Seq("sum", "min", "max", "first", "last").map(a =>
        org.apache.spark.sql.types.StructField(s"${name}_${a}_${m}_$c",
          org.apache.spark.sql.types.DoubleType)) :+
        org.apache.spark.sql.types.StructField(s"${name}_cnt_${m}_$c",
          org.apache.spark.sql.types.LongType)
    }

  /** Index of the first entry strictly after `t` in a ts-sorted array. */
  private[cep] def firstAfter[V](arr: Array[(java.sql.Timestamp, V)],
                                 t: java.sql.Timestamp): Int = {
    var lo = 0; var hi = arr.length
    while (lo < hi) { val mid = (lo + hi) >>> 1
      if (arr(mid)._1.after(t)) hi = mid else lo = mid + 1 }
    lo
  }

  private def cmpD(a: Double, b: Double): Int =
    org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(a, b)

  /** SQL `max` (`hi`) or `min` of double column `i` over `rows`, nulls
    * ignored, in Spark's double order (NaN largest) — a residual member's
    * per-(key, ts) value extreme. */
  private[cep] def extremeOf(rows: scala.collection.Seq[org.apache.spark.sql.Row], i: Int,
                             hi: Boolean): java.lang.Double = {
    var best: java.lang.Double = null
    rows.foreach { r =>
      if (!r.isNullAt(i)) {
        val v = r.getDouble(i)
        if (best == null || (if (hi) cmpD(v, best) > 0 else cmpD(v, best) < 0))
          best = java.lang.Double.valueOf(v)
      }
    }
    best
  }

  /** The equal-timestamp VALUE tie-break over one (key, ts)'s rows of a
    * member: the min of double column `i` (nulls ignored) or, under a
    * tiebreak (`ord` over the tie columns at `tieAt..` plus the value),
    * the value of the row least by (ties..., value) — SQL's `min_by` over
    * that struct, nulls first. */
  private[cep] def tieMinOf(rows: scala.collection.Seq[org.apache.spark.sql.Row],
      i: Int, tieAt: Int, nTies: Int,
      ord: org.apache.spark.sql.catalyst.expressions.InterpretedOrdering): java.lang.Double =
    if (ord == null) extremeOf(rows, i, hi = false)
    else {
      def key(r: org.apache.spark.sql.Row) = org.apache.spark.sql.catalyst.InternalRow.fromSeq(
        (tieAt until tieAt + nTies).map(k => org.apache.spark.sql.catalyst.CatalystTypeConverters
          .convertToCatalyst(r.get(k))) :+ (if (r.isNullAt(i)) null else r.getDouble(i)))
      val best = rows.minBy(key)(ord)
      if (best.isNullAt(i)) null else java.lang.Double.valueOf(best.getDouble(i))
    }

  /** `v <op> thr` for the residual op codes (1 <, 2 <=, 3 >, 4 >=); a null
    * side never satisfies (SQL 3VL). `sqlOrder` compares in Spark's double
    * order (NaN largest), as the SQL predicate of an inner residual does;
    * otherwise IEEE comparison, as the closing-level scan always has. */
  private[cep] def satisfies(op: Int, v: java.lang.Double, thr: java.lang.Double,
                             sqlOrder: Boolean): Boolean =
    thr != null && v != null && {
      if (sqlOrder) {
        val c = cmpD(v, thr)
        op match { case 1 => c < 0; case 2 => c <= 0; case 3 => c > 0; case _ => c >= 0 }
      } else op match {
        case 1 => v < thr; case 2 => v <= thr; case 3 => v > thr; case _ => v >= thr
      }
    }

  /** Fold one bound (groupKeep-index, value) into the running bindGroup
    * state — ONE implementation for every group depth so null/FIRST-LAST
    * semantics cannot diverge between the shapes. first/last are
    * positional (nulls included), sum/min/max/cnt ignore nulls. */
  private[cep] def commitVal(gi: Int, v: java.lang.Double,
      vSum: Array[java.lang.Double], vMin: Array[java.lang.Double],
      vMax: Array[java.lang.Double], vFirst: Array[java.lang.Double],
      vLast: Array[java.lang.Double], vCnt: Array[Long],
      vSeen: Array[Boolean]): Unit = {
    if (!vSeen(gi)) { vFirst(gi) = v; vSeen(gi) = true }
    vLast(gi) = v
    if (v != null) {
      vCnt(gi) += 1
      vSum(gi) = if (vSum(gi) == null) v
                 else java.lang.Double.valueOf(vSum(gi) + v)
      if (vMin(gi) == null || v < vMin(gi)) vMin(gi) = v
      if (vMax(gi) == null || v > vMax(gi)) vMax(gi) = v
    }
  }

  private[cep] def tsOf(r: org.apache.spark.sql.Row, i: Int): java.sql.Timestamp =
    anyToTs(r.get(i))

  private[cep] def keyString(v: Any): String = v match {
    case null => "N"
    case r: org.apache.spark.sql.Row =>
      (0 until r.length).map(i => keyString(r.get(i)))
        .map(s => s"${s.length}:$s").mkString("R(", ",", ")")
    case o => val s = String.valueOf(o); s"V${s.length}:$s"
  }

  /** The current candidate event's column, inside an iterative predicate
    * (flink-cep's `event` argument to IterativeCondition.filter). */
  def ev(colName: String): Column = col(s"__c_$colName")

  /** A prior binding's kept column, inside an iterative predicate (flink-cep
    * `ctx.getEventsForPattern(step)`); the referenced step must
    * [[Pattern.bind]] the column. Quantified steps expose expansions as
    * `bound("<step>_<i>", col)`. */
  def bound(step: String, colName: String): Column = col(s"${step}_$colName")

  /** A prior binding's timestamp, inside an iterative predicate. */
  def boundTs(step: String): Column = col(s"${step}_ts")
}
