package graft.cep

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SQL front door for CEP: a MATCH_RECOGNIZE-subset parser compiling to the
  * [[Pattern]] combinator API — the reference plans the full clause through
  * its Blink planner (flink-table/flink-table-planner-blink/src/main/scala/
  * org/apache/flink/table/planner/plan/nodes/physical/stream/
  * StreamExecMatch.scala; behavior fixture MatchRecognizeITCase.scala).
  *
  * Supported subset (one clause each, in this order):
  * {{{
  * MATCH_RECOGNIZE (
  *   PARTITION BY <col>[, <col>...]   -- composite keys partition on all
  *   ORDER BY <col>
  *   MEASURES <item>, ...        -- <item> ::= V.<col> AS alias
  *                               --          | FIRST(V.<col>) AS alias
  *                               --          | LAST(V.<col>)  AS alias
  *                               --          | SUM(V.<col>)   AS alias
  *                               --          | MIN(V.<col>)   AS alias
  *                               --          | MAX(V.<col>)   AS alias
  *                               --          | COUNT(V.<col>) AS alias
  *                               --          | AVG(V.<col>)   AS alias
  *                               -- over a '+'/'*' run variable, value
  *                               -- measures (SUM/MIN/MAX/AVG/FIRST/LAST of a
  *                               -- bound column) aggregate the whole run
  *                               -- (Pattern.bindRun: O(1) state per column);
  *                               -- MATCH_NUMBER() AS alias = the partition's
  *                               -- match ordinal by binding timestamps
  *                               -- (constant per match under ALL ROWS)
  *                               -- CLASSIFIER() AS alias = the bound
  *                               -- variable's name: per row under ALL ROWS,
  *                               -- the final element's under ONE ROW
  *   [ONE ROW PER MATCH | ALL ROWS PER MATCH]
  *                               -- ALL ROWS explodes each match: one row per
  *                               -- bound event with CLASSIFIER-style `cls`,
  *                               -- the event `ts`, and RUNNING measures
  *   [AFTER MATCH SKIP PAST LAST ROW | AFTER MATCH SKIP TO NEXT ROW
  *    | AFTER MATCH SKIP TO FIRST var | AFTER MATCH SKIP TO LAST var]
  *   PATTERN (V1 V2[?|+|*|{n}|{n,m}|{n,}] ...) -- linear; '?' = optional,
  *                               -- '{n}' = times(n), '{n,m}' = greedy range,
  *                               -- '{n,}' = n-or-more (timesOrMore run),
  *                               -- (timesRange: n mandatory + up to m-n more),
  *                               -- '+' = oneOrMore (greedy run; measures via
  *                               -- FIRST/LAST/COUNT of the run timestamps),
  *                               -- '*' = zeroOrMore (run may be empty);
  *                               -- RELUCTANT '+?'/'{n,}?'/'{n,m}?'/'{n}?'
  *                               -- collapse to exact counts {1}/{n} (see
  *                               -- [[normalizeQuant]]: minimal binding
  *                               -- always wins under earliest-match);
  *                               -- '*?'/'??' are named rejections
  *                               -- (minimum zero = never binds);
  *                               -- (B|C) = alternation (followedByOneOf):
  *                               -- the group binds as variable "B_C" and
  *                               -- `B_C.cls AS alias` measures the matched
  *                               -- branch (the SQL CLASSIFIER() analog);
  *                               -- (B C)+ = SEQUENCE group (followedByGroup
  *                               -- + oneOrMore, flink-cep GroupPattern):
  *                               -- greedy repetition chain — measures are
  *                               -- FIRST(B.ts) (first repetition's first
  *                               -- sub-binding), LAST(C.ts) (last
  *                               -- repetition's final sub-binding), and
  *                               -- COUNT over any member (repetitions)
  *   WITHIN INTERVAL '<n>' <SECOND|MINUTE|HOUR|DAY>
  *   DEFINE V1 AS <predicate>, ...  -- Spark SQL boolean exprs over the event
  *                                  -- row; vars left undefined match TRUE.
  *                                  -- `V.col` addresses: the current event
  *                                  -- when V is the variable being defined,
  *                                  -- or an EARLIER variable's binding — a
  *                                  -- RELATIVE condition (e.g.
  *                                  -- `DEFINE P AS P.value > 2 * S.value`),
  *                                  -- lowered onto followedByIterative+bind.
  *                                  -- A '+' variable may be SELF-REFERENTIAL
  *                                  -- (the V-shape): `DEFINE D AS
  *                                  -- D.col < LAST(D.col, 1) [AND <plain>]`
  *                                  -- accepts each occurrence relative to
  *                                  -- the run's own previous member (first
  *                                  -- occurrence on <plain> alone; the next
  *                                  -- step binds after the run's LAST
  *                                  -- member). Lowered onto
  *                                  -- Pattern.followedByRun — batch only.
  *                                  -- `PREV(V.col)` / `PREV(col)` is the
  *                                  -- SQL-standard alias of LAST(V.col, 1)
  *                                  -- (`price < PREV(price)` works as-is;
  *                                  -- offsets other than 1 are named
  *                                  -- errors).
  * )
  * }}}
  * Semantics are [[Pattern]]'s (flink-cep relaxed contiguity,
  * skip-till-next, earliest binding). Measures over non-timestamp columns
  * bind the column at the step via [[Pattern.bind]] (earliest-(ts, value)
  * struct-min binding); FIRST/LAST/SUM/COUNT index or fold over a quantified
  * variable's `{n}` expansions (reference MatchRecognizeITCase.scala's
  * `SUM(A.price)`-style aggregate measures). AFTER MATCH SKIP PAST LAST ROW
  * lowers to [[Pattern.afterMatchSkipPastLastEvent]]; SKIP TO NEXT ROW is
  * this compilation's default (each start row opens at most one match), so
  * the clause parses as an explicit no-op.
  */
object MatchRecognize {

  private val UnitMs = Map("SECOND" -> 1000L, "MINUTE" -> 60000L,
    "HOUR" -> 3600000L, "DAY" -> 86400000L)

  /** One parsed PATTERN element. A nested group at ANY depth carries its
    * innermost sub-sequence as `inner2Seq`, its intermediate closing levels
    * as `midSeqs` — innermost level first, empty at depth 1 (r20,
    * replacing the fixed midSeq/mid2Seq/mid3Seq trio: the walk has been
    * depth-parametric since r18) — and its outer tail steps in `seq`. A
    * plain sequence group has `seq` only. */
  private case class PatternVar(name: String, quant: Option[String],
                                alts: Seq[String] = Nil, seq: Seq[String] = Nil,
                                innerStar: Boolean = false,
                                inner2Seq: Seq[String] = Nil,
                                midSeqs: Seq[Seq[String]] = Nil,
                                absent: Boolean = false)
  private case class Measure(fn: Option[String], varName: String,
                             field: String, alias: String)
  private case class Spec(partitionBy: Seq[String], orderBy: String,
                          measures: Seq[Measure], vars: Seq[PatternVar],
                          withinMs: Long, defines: Map[String, String],
                          skipPastLast: Boolean, allRows: Boolean,
                          skipTo: Option[(String, Boolean)] = None,
                          orderTies: Seq[String] = Nil,
                          absentVars: Set[String] = Set.empty)

  /** The (member, col) ORDER of a nested group's bound value columns —
    * ONE derivation shared by the lowering (which drives the bindGroup
    * calls, i.e. the engine's groupKeep order) and the ALL ROWS
    * expansion (which indexes the per-row vsum/vcnt snapshots): a
    * divergence between the two would silently read another column's
    * running values. */
  private def nestedKeepOrder(g: PatternVar,
      bindByVar: Map[String, Seq[String]]): Seq[(String, String)] =
    (g.inner2Seq ++ g.midSeqs.flatten ++ g.seq).filter(bindByVar.contains)
      .flatMap(sv => bindByVar(sv).map(sv -> _))

  /** Member VALUE measure → the bindGroup running-aggregate column
    * (`<group>_<agg>_<member>_<field>`) — ONE mapping shared by the
    * one-level group chain and the nested chain (both emit the same
    * column naming): one bound occurrence per repetition (one-level) /
    * per sub or tail binding (nested), so COUNT is the non-null count
    * and AVG its matching divisor. */
  private def memberValueMeasure(gName: String, m: Measure): Column = {
    val sfx = s"${m.varName}_${m.field}"
    m.fn match {
      case Some("SUM") => col(s"${gName}_sum_$sfx")
      case Some("AVG") => col(s"${gName}_sum_$sfx") / col(s"${gName}_cnt_$sfx")
      case Some("MIN") => col(s"${gName}_min_$sfx")
      case Some("MAX") => col(s"${gName}_max_$sfx")
      case Some("FIRST") => col(s"${gName}_first_$sfx")
      case Some("LAST") => col(s"${gName}_last_$sfx")
      case Some("COUNT") => col(s"${gName}_cnt_$sfx")
      case other => sys.error(s"group member ${m.varName}: use " +
        s"SUM/AVG/MIN/MAX/FIRST/LAST/COUNT (got " +
        s"${other.getOrElse("a bare reference")})")
    }
  }

  /** Run-shaped quantifiers: '+', '*', and the SQL `{n,}` n-or-more form —
    * all lower to the run (oneOrMore-family) machinery. */
  private def isRunQ(q: String): Boolean =
    q == "+" || q == "*" || (q.startsWith("{") && q.endsWith(",}"))

  /** RELUCTANT quantifiers (`B+?`, `B{n,}?`, `B{n,m}?`, `B{n}?`) — the
    * spelling the reference REQUIRES on a quantified FINAL pattern element
    * (flink-table-planner-blink StreamExecMatch.scala:203-207 rejects
    * greedy-final patterns outright, so every published Flink 1.10
    * MATCH_RECOGNIZE example ending in a quantifier ends in a reluctant
    * one). Under this engine's documented relaxed-contiguity earliest-match
    * semantics the lowering is a parse-time collapse to EXACT counts:
    * reluctance prefers the fewest occurrences, and relaxed contiguity lets
    * any surplus candidate event be ignored rather than consumed, so the
    * minimal binding is always achievable and always wins — `B+?` becomes
    * `B{1}`, `B{n,}?` and `B{n,m}?` become `B{n}`, `B{n}?` is `B{n}`
    * (reluctance on an exact count is vacuous). Measures see the normal
    * exact-count columns: COUNT = n, FIRST/LAST/SUM fold over the n bound
    * members, and a self-PREV lowers to the physical-lag column (the SQL
    * PREV semantics — with no surplus members there is no run to navigate).
    * `B*?` and `B??` have minimum ZERO: under earliest-match reluctance
    * prefers zero occurrences, and zero is always achievable (relaxed
    * contiguity lets every candidate be ignored rather than consumed), so
    * the variable NEVER binds — the ELEMENT-ABSENT lowering (r18,
    * upgrading the former named rejection by the same normalization
    * argument): the element is dropped from the compiled pattern entirely
    * and every measure over it reads null (timestamps/values) or 0
    * (COUNT). Same for the zero-minimum brace forms `{0,m}?`/`{0,}?`
    * ([[isAbsentQuant]] detects all of them at parse time). */
  private def isAbsentQuant(q: String): Boolean =
    q == "*?" || q == "??" ||
      (q.startsWith("{") && q.endsWith("?") &&
        q.stripPrefix("{").stripSuffix("?").stripSuffix("}")
          .split(",")(0).trim == "0")
  private def normalizeQuant(name: String, q: String): String = q match {
    case "+?" => "{1}"
    case qq if qq.startsWith("{") && qq.endsWith("?") =>
      val inner = qq.stripPrefix("{").stripSuffix("?").stripSuffix("}")
      s"{${inner.split(",")(0).trim}}" // {n,}? / {n,m}? / {n}? -> {n}
    case qq => qq
  }

  private def sectionRx(name: String, stopAt: String) =
    (s"(?is)\\b$name\\b\\s+(.*?)\\s*(?=\\b(?:$stopAt)\\b)").r

  /** PATTERN-body element scanner (r20). Nested groups parse
    * RECURSIVELY to any depth — the grammar the old depth-1..4 regexes
    * spelled out case by case, generalized (reference flink-cep
    * GroupPattern.java:30 wraps an ARBITRARY inner Pattern — recursion,
    * not an enumeration of depths):
    * {{{
    *   nested := '(' (nested | inner) closingSteps ')' quant
    *   inner  := '(' word word+ ')' ('+'|'*')
    * }}}
    * Every INTERMEDIATE level takes '+' only; the innermost may be '+'
    * or '*' (zero-or-more sub-chains per repetition); the OUTERMOST
    * takes '+' or '*'. Flat elements (alternations, sequence groups,
    * bare variables with quantifiers) keep their historical grammar. */
  private def parsePatternElements(s: String): Seq[PatternVar] = {
    val simpleRx = ("(?:\\(\\s*(\\w+(?:\\s*\\|\\s*\\w+)+)\\s*\\)" +
      "|\\(\\s*(\\w+(?:\\s+\\w+)+)\\s*\\)|(\\w+))" +
      "(\\?\\??|\\+\\??|\\*\\??|\\{(\\d+)(?:,(\\d+)?)?\\}\\??)?").r
    def ws(p0: Int): Int = {
      var p = p0
      while (p < s.length && s.charAt(p).isWhitespace) p += 1
      p
    }
    def word(p0: Int): Option[(String, Int)] = {
      var p = p0
      while (p < s.length &&
        (s.charAt(p).isLetterOrDigit || s.charAt(p) == '_')) p += 1
      if (p > p0) Some((s.substring(p0, p), p)) else None
    }
    def wordList(p0: Int): (Seq[String], Int) = {
      val buf = Seq.newBuilder[String]
      var p = ws(p0)
      var go = true
      while (go) word(p) match {
        case Some((w, p1)) => buf += w; p = ws(p1)
        case None => go = false
      }
      (buf.result(), p)
    }
    // a parenthesized group whose body holds another '(' — the nested
    // group-in-group shape (a flat '(...)' never contains one)
    def isNestedAt(p0: Int): Boolean = {
      var p = p0 + 1; var depth = 1
      while (p < s.length && depth > 0) {
        val c = s.charAt(p)
        if (c == '(') return true
        if (c == ')') depth -= 1
        p += 1
      }
      false
    }
    def near(p0: Int): String = s.substring(p0).trim
    // returns (inner members, innerStar, closing levels innermost-first
    // — EMPTY when the group at pos0 is itself the innermost — this
    // group's quantifier char, position after the quantifier)
    def parseNested(pos0: Int): (Seq[String], Boolean, List[Seq[String]], Char, Int) = {
      var p = ws(pos0)
      require(p < s.length && s.charAt(p) == '(',
        s"unsupported PATTERN syntax near '${near(p)}' in PATTERN ($s)")
      p = ws(p + 1)
      val (inner, istar0, levels, p2) =
        if (p < s.length && s.charAt(p) == '(') {
          val (in, ist, lv, subQ, p1) = parseNested(p)
          require(lv.isEmpty || subQ == '+',
            "nested group: intermediate nesting levels take the '+' " +
              s"quantifier only (got '$subQ' inside PATTERN ($s))")
          val (steps, p2a) = wordList(p1)
          require(steps.nonEmpty, "nested group: each nesting level " +
            s"needs at least one closing step (PATTERN ($s))")
          (in, ist, lv :+ steps, p2a)
        } else {
          val (ws0, p1) = wordList(p)
          require(ws0.size >= 2, "nested group: the inner sub-group " +
            s"needs at least two steps (got '${ws0.mkString(" ")}' in " +
            s"PATTERN ($s))")
          (ws0, false, List.empty[Seq[String]], p1)
        }
      require(p2 < s.length && s.charAt(p2) == ')',
        s"unsupported PATTERN syntax near " +
          s"'${near(math.min(p2, s.length - 1))}' — unbalanced nested " +
          s"group in PATTERN ($s)")
      val p3 = ws(p2 + 1)
      require(p3 < s.length && (s.charAt(p3) == '+' || s.charAt(p3) == '*'),
        s"nested group in PATTERN ($s) requires the '+' or '*' " +
          "quantifier on every level (got " +
          (if (p3 < s.length) s"'${s.charAt(p3)}'" else "nothing") + ")")
      val q = s.charAt(p3)
      require(p3 + 1 >= s.length || s.charAt(p3 + 1) != '?',
        s"reluctant quantifiers are not supported on nested group levels " +
          s"(PATTERN ($s))")
      (inner, if (levels.isEmpty) q == '*' else istar0, levels, q, p3 + 1)
    }
    val out = Seq.newBuilder[PatternVar]
    var p = ws(0)
    while (p < s.length) {
      if (s.charAt(p) == '(' && isNestedAt(p)) {
        val (inner, istar, levels, q, p1) = parseNested(p)
        require(q == '+' || q == '*',
          s"nested group requires the outer '+' or '*' quantifier " +
            s"(got '$q' in PATTERN ($s))")
        val name = (inner ++ levels.flatten).mkString("_")
        out += PatternVar(name, Some(q.toString), Nil, levels.last,
          innerStar = istar, inner2Seq = inner, midSeqs = levels.init)
        p = ws(p1)
      } else simpleRx.findPrefixMatchOf(s.subSequence(p, s.length)) match {
        case Some(g) =>
          val q0 = Option(g.group(4))
          if (g.group(1) != null) {
            val branches = g.group(1).split("\\|").map(_.trim).toSeq
            // (B|C)+ / (B|C)* — flink-cep GroupPattern over oneOf: a run
            // whose members match any branch, with per-branch counts. The
            // reluctant '(B|C)+?' collapses to ONE member of any branch —
            // the bare '(B|C)' one-of (see [[normalizeQuant]]: the
            // minimal binding always wins). '?'/'{n,m}' stay named
            // rejections.
            val q = q0 match {
              case Some("+?") => None
              case q1 @ (None | Some("+") | Some("*")) => q1
              case Some(other) => sys.error("alternation group " +
                s"(${branches.mkString("|")}): only the '+', '*' or " +
                s"reluctant '+?' quantifier is supported (got '$other')")
            }
            out += PatternVar(branches.mkString("_"), q, branches)
          } else if (g.group(2) != null) {
            val subs = g.group(2).trim.split("\\s+").toSeq
            // (B C)+ / (B C)* — GroupPattern oneOrMore[.optional]. The
            // reluctant '(B C)+?' collapses to exactly ONE repetition
            // (minimal binding always wins), which is also the bare
            // '(B C)' inline-sequence semantics — both lower to the
            // group walk stopped after one repetition.
            val q = q0 match {
              case Some("+?") => None
              case q1 @ (None | Some("+") | Some("*")) => q1
              case Some(other) => sys.error("sequence group " +
                s"(${subs.mkString(" ")}): only '+', '*', reluctant " +
                s"'+?' or no quantifier is supported (got '$other')")
            }
            out += PatternVar(subs.mkString("_"), q, Nil, subs)
          } else {
            val nm = g.group(3)
            // reluctant zero-minimum: the ELEMENT-ABSENT lowering (r18)
            // — the variable never binds; parse keeps it only for
            // measure resolution (null/0) and drops it from the
            // compiled pattern
            if (q0.exists(isAbsentQuant))
              out += PatternVar(nm, None, absent = true)
            else out += PatternVar(nm, q0.map(normalizeQuant(nm, _)))
          }
          p = ws(p + g.end)
        case None =>
          throw new IllegalArgumentException(
            s"unsupported PATTERN syntax near '${near(p)}' in " +
            s"PATTERN ($s)" +
            (if (s.substring(p).contains("(")) " — nested group levels " +
              "follow ((I1 I2 ...)q T1 ...)+ with inner q in '+'/'*', " +
              "'+' on every intermediate level and '+'/'*' outermost, " +
              "to any depth"
             else ""))
      }
    }
    out.result()
  }

  private def parse(sql: String): Spec = {
    val body = "(?is)\\s*MATCH_RECOGNIZE\\s*\\((.*)\\)\\s*".r
      .findFirstMatchIn(sql)
      .getOrElse(sys.error("expected MATCH_RECOGNIZE ( ... )"))
      .group(1)
    def section(name: String, stopAt: String): Option[String] =
      sectionRx(name, stopAt).findFirstMatchIn(body).map(_.group(1).trim)
    // one or more comma-separated partition columns (Flink supports
    // composite partition keys; StreamExecMatch partitions on all of them)
    val partitionBy = section("PARTITION\\s+BY", "ORDER")
      .getOrElse(sys.error("PARTITION BY required"))
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val orderByRaw = section("ORDER\\s+BY", "MEASURES|AFTER|PATTERN").getOrElse(sys.error("ORDER BY required"))
    // composite ORDER BY `(ts, tie1, tie2, ...)` (reference
    // StreamExecMatch.scala sorts by time attribute + secondary keys via
    // ComparatorCodeGenerator): ANY number of secondary columns is
    // supported — they deterministically resolve which equal-timestamp
    // candidate BINDS at each step (threaded, in order, as the leading
    // payloads of the lexicographic (ts, payload...) binding refinement)
    // and which equal-ts candidate's values a run/group reads (the
    // min_by/max_by composite key). Succession stays time-level:
    // equal-timestamp events are concurrent (the engine's documented
    // strictly-after convention).
    val obCols = orderByRaw.split(",").map(_.trim).toSeq
    require(obCols.nonEmpty && obCols.forall(c => "^\\w+$".r.matches(c)),
      s"ORDER BY: an event-time column plus tiebreak columns (got '$orderByRaw')")
    val orderBy = obCols.head
    val orderTies = obCols.tail
    val measures = section("MEASURES", "ONE|ALL|AFTER|PATTERN").toSeq.flatMap(_.split(",").toSeq).map { m =>
      // MATCH_NUMBER(): the per-partition match ordinal (no variable ref)
      "(?is)\\s*MATCH_NUMBER\\s*\\(\\s*\\)\\s+AS\\s+(\\w+)\\s*".r.findFirstMatchIn(m)
        .map(g => Measure(Some("MATCH_NUMBER"), "", "", g.group(1)))
        // CLASSIFIER(): the bound variable's name — per row under ALL ROWS,
        // the FINAL element's under ONE ROW (the SQL last-row semantics)
        .orElse(
          "(?is)\\s*CLASSIFIER\\s*\\(\\s*\\)\\s+AS\\s+(\\w+)\\s*".r.findFirstMatchIn(m)
            .map(g => Measure(Some("CLASSIFIER"), "", "", g.group(1))))
        .orElse(
          "(?is)\\s*(?:(FIRST|LAST|SUM|COUNT|MIN|MAX|AVG)\\s*\\(\\s*)?(\\w+)\\.(\\w+)\\s*\\)?\\s+AS\\s+(\\w+)\\s*".r
            .findFirstMatchIn(m)
            .map(g => Measure(Option(g.group(1)).map(_.toUpperCase), g.group(2),
              g.group(3), g.group(4))))
        .getOrElse(sys.error(s"unsupported MEASURES item: $m " +
          "(only [FIRST|LAST|SUM|COUNT|MIN|MAX|AVG](V.col) AS alias, " +
          "MATCH_NUMBER() AS alias, or CLASSIFIER() AS alias)"))
    }
    val skipPastLast =
      "(?is)\\bAFTER\\s+MATCH\\s+SKIP\\s+PAST\\s+LAST\\s+ROW\\b".r.findFirstIn(body).nonEmpty
    // AFTER MATCH SKIP TO FIRST|LAST <var> (SkipToFirst/LastStrategy)
    val skipTo = "(?is)\\bAFTER\\s+MATCH\\s+SKIP\\s+TO\\s+(FIRST|LAST)\\s+(\\w+)\\b".r
      .findFirstMatchIn(body)
      .map(m => (m.group(2), m.group(1).equalsIgnoreCase("LAST")))
    require(!(skipPastLast && skipTo.nonEmpty), "one AFTER MATCH strategy only")
    // ONE ROW PER MATCH is the default; ALL ROWS explodes each match into
    // one row per bound event (see allRowsOutput)
    val allRows =
      "(?is)\\bALL\\s+ROWS\\s+PER\\s+MATCH\\b".r.findFirstIn(body).nonEmpty
    // the PATTERN body: balanced parentheses to ANY supported nesting
    // depth (r20 — the body regex is a balanced-nesting template folded
    // deep enough for every depth the recursive element parser below
    // takes; twelve paren levels = nested groups eleven deep, far past
    // any real query)
    val patternBody = {
      val nestedBody = (1 to 12).foldLeft("[^()]*")((inner, _) =>
        s"(?:[^()]|\\($inner\\))*")
      (s"(?is)\\bPATTERN\\s*\\(($nestedBody)\\)").r
      .findFirstMatchIn(body) match {
        case Some(m) => m.group(1).trim
        case None if "(?is)\\bPATTERN\\s*\\(".r.findFirstIn(body).isDefined =>
          sys.error("PATTERN bodies nested deeper than eleven " +
            "group-in-group levels are not supported through the SQL " +
            "front door — use the Scala API's depth-parametric " +
            "Pattern.followedByNestedNGroup for deeper compositions")
        case None => sys.error("PATTERN (...) required")
      }
    }
    // elements scanned left to right by the RECURSIVE element parser
    // (r20, replacing the fixed depth-1..4 regex alternatives — the
    // reference composes GroupPattern recursively to any depth,
    // flink-cep/.../pattern/GroupPattern.java wraps an arbitrary inner
    // Pattern): a parenthesized element containing another '(' is a
    // nested group-in-group and parses recursively to ANY depth;
    // otherwise it is an alternation group (B|C), a sequence group
    // (B C), or a bare variable, each with an optional quantifier.
    // Every character of the body must belong to a parsed element — a
    // silently-dropped group/quantifier would compile a DIFFERENT
    // pattern (e.g. `( B C )+` degrading to `B C`); residue is a named
    // error at the first unparseable position.
    val vars: Seq[PatternVar] = parsePatternElements(patternBody)
    require(vars.nonEmpty, "PATTERN must bind at least one variable")
    // duplicate variable names were always broken (colliding bound
    // columns), but under the element-absent lowering they would be
    // SILENTLY wrong (PATTERN (S C C*? P) nulls every measure on the
    // bound C) — reject by name across every bindable identifier
    locally {
      val allNames = vars.flatMap(v => v.name +: (v.alts ++ v.seq ++
        v.inner2Seq ++ v.midSeqs.flatten))
      val dups = allNames.groupBy(identity).collect {
        case (n, occ) if occ.size > 1 => n }
      require(dups.isEmpty,
        s"PATTERN binds ${dups.mkString(", ")} more than once — every " +
          "variable, alternation branch and group member needs a distinct " +
          "name (reusing one would alias their bound columns)")
    }
    // element-absent variables (reluctant zero-minimum) leave the compiled
    // pattern; the anchor must bind, so an absent FIRST element is a
    // named error rather than a silently different pattern
    require(!vars.head.absent,
      s"the first PATTERN element (${vars.head.name}) carries a reluctant " +
        "zero-minimum quantifier — it would never bind, and the match " +
        "anchor must (drop the element or use a greedy quantifier)")
    val absentVars = vars.filter(_.absent).map(_.name).toSet
    val keptVars = vars.filterNot(_.absent)
    val within = "(?is)\\bWITHIN\\s+INTERVAL\\s+'(\\d+)'\\s+(\\w+?)S?\\b".r
      .findFirstMatchIn(body).getOrElse(sys.error("WITHIN INTERVAL '<n>' <unit> required"))
    val withinMs = within.group(1).toLong *
      UnitMs.getOrElse(within.group(2).toUpperCase, sys.error(s"unit ${within.group(2)}"))
    // DEFINE is the last clause: take everything after the keyword
    val defines = "(?is)\\bDEFINE\\b\\s+(.*)".r.findFirstMatchIn(body)
      .map(_.group(1).trim).map { d =>
      // split on commas that start the next `V AS ...` item, so predicates
      // may contain function-call commas
      d.split(",(?=\\s*\\w+\\s+(?i:AS)\\s)").toSeq.map { item =>
        val m = "(?is)\\s*(\\w+)\\s+AS\\s+(.*)".r.findFirstMatchIn(item)
          .getOrElse(sys.error(s"bad DEFINE item: $item"))
        val dv = m.group(1)
        // self PREV on a '+'/'*' run keeps the run-member semantics; all
        // other PREVs lower to physical-lag columns (rewritePrev)
        val runQuant = vars.exists(v0 => v0.name == dv && v0.alts.isEmpty &&
          v0.seq.isEmpty && v0.quant.exists(isRunQ))
        dv -> rewritePrev(dv, m.group(2).trim, runQuant)
      }.toMap
    }.getOrElse(Map.empty)
    Spec(partitionBy, orderBy, measures, keptVars, withinMs, defines,
      skipPastLast, allRows, skipTo, orderTies, absentVars)
  }

  /** `PREV(V.col)` / `PREV(col)` (offset 1) — the SQL-standard spelling of
    * the one-row-back self-reference, the most-copied MATCH_RECOGNIZE shape
    * (MatchRecognizeITCase's `price < PREV(price)`): a textual alias of
    * `LAST(V.col, n)`, rewritten per DEFINE item before compilation. A bare
    * `PREV(col)` qualifies with the variable being defined, and a bare LHS
    * in the canonical `col < PREV(col)` comparison is qualified alongside so
    * the self-reference detector sees `V.col < LAST(V.col, n)`. Run-self
    * offsets n >= 1 ride the run segmentation's n-back window
    * ([[graft.cep.Pattern.followedByRun]]'s offset); every other PREV —
    * foreign variables and non-run self references, any offset — lowers to
    * a precomputed physical-lag column (see the scaladoc inside). */
  private def rewritePrev(v: String, body0: String, runQuant: Boolean): String = {
    import scala.util.matching.Regex.quoteReplacement
    val vq = java.util.regex.Pattern.quote(v)
    val PrevQual = "(?is)\\bPREV\\s*\\(\\s*(\\w+)\\.(\\w+)\\s*(?:,\\s*(\\d+)\\s*)?\\)".r
    val PrevBare = "(?is)\\bPREV\\s*\\(\\s*(\\w+)\\s*(?:,\\s*(\\d+)\\s*)?\\)".r
    // Two lowerings, by navigation context (Calcite accepts both):
    //  * self-reference on a '+'/'*' RUN variable — the run semantics
    //    (previous MEMBER): the LAST(V.c, n) spelling, consumed by the run
    //    segmentation ([[selfRunDefs]]);
    //  * anything else (foreign variable, any offset; plain self, any
    //    offset) — the SQL-standard PHYSICAL navigation (the row n
    //    positions back in the partition order): rewritten to a
    //    `<var>.__plag<n>_<col>` reference against a lag column that
    //    [[detect]] precomputes once over (PARTITION BY key ORDER BY ts[,
    //    tie]) — one keyed window, no sequential state, and the reference
    //    then rides the ordinary prior-binding machinery.
    val selfCols = scala.collection.mutable.LinkedHashSet[String]()
    var out = PrevQual.replaceAllIn(body0, m => {
      val n = Option(m.group(3)).getOrElse("1")
      require(n.toInt >= 1, s"DEFINE $v: PREV offset must be >= 1 (got $n)")
      if (m.group(1) == v && runQuant) {
        selfCols += m.group(2)
        quoteReplacement(s"LAST(${m.group(1)}.${m.group(2)}, $n)")
      } else quoteReplacement(s"${m.group(1)}.__plag${n}_${m.group(2)}")
    })
    out = PrevBare.replaceAllIn(out, m => {
      val n = Option(m.group(2)).getOrElse("1")
      require(n.toInt >= 1, s"DEFINE $v: PREV offset must be >= 1 (got $n)")
      if (runQuant) {
        selfCols += m.group(1)
        quoteReplacement(s"LAST($v.${m.group(1)}, $n)")
      } else quoteReplacement(s"$v.__plag${n}_${m.group(1)}")
    })
    selfCols.foreach { c =>
      // reversed operands — `PREV(c, n) > c` — normalized into the
      // canonical `V.c < LAST(V.c, n)` shape the self-run detector
      // recognizes
      val rev = (s"(?is)LAST\\s*\\(\\s*$vq\\.$c\\s*,\\s*(\\d+)\\s*\\)\\s*" +
        s"(<=|>=|<|>)\\s*(?:$vq\\.)?$c\\b").r
      val flip = Map("<" -> ">", ">" -> "<", "<=" -> ">=", ">=" -> "<=")
      out = rev.replaceAllIn(out,
        m => quoteReplacement(s"$v.$c ${flip(m.group(2))} LAST($v.$c, ${m.group(1)})"))
      // canonical order with a bare LHS — qualify it for the detector
      val lhs = (s"(?is)(^|[^\\w.])($c\\s*(?:<=|>=|<|>)\\s*LAST\\s*\\(\\s*" +
        s"$vq\\.$c\\s*,)").r
      out = lhs.replaceAllIn(out,
        m => quoteReplacement(s"${m.group(1)}$v.${m.group(2)}"))
    }
    // Any PREV-derived self-reference the detector will NOT recognize (e.g.
    // `c = PREV(c)`, arithmetic around PREV) dies here by name — without
    // this, compiledPred would hand Spark an aggregate-in-filter and fail
    // with an unrelated AnalysisException.
    selfCols.foreach { c =>
      val nSelf = (s"(?is)\\bLAST\\s*\\(\\s*$vq\\.$c\\s*,\\s*\\d+\\s*\\)").r
        .findAllIn(out).size
      val nCanon = SelfLastRx.findAllMatchIn(out)
        .count(m => m.group(1) == v && m.group(2) == c)
      require(nSelf == nCanon,
        s"DEFINE $v: PREV($c[, n]) must appear as `$c <,<=,>,>= PREV($c[, n])` " +
          s"(either operand order; or the LAST($v.$c, n) spelling) — cannot " +
          s"compile '$body0'")
    }
    out
  }

  private val RefRx = "(\\w+)\\.(\\w+)".r

  /** `V.col <op> LAST(V.col, n)` — the self-referential run condition (the
    * backreferences force the SAME variable and column inside LAST; group 4
    * is the offset, the PREV(col, n) generalization). */
  private val SelfLastRx =
    "(?is)(\\w+)\\.(\\w+)\\s*(<=|>=|<|>)\\s*LAST\\s*\\(\\s*\\1\\.\\2\\s*,\\s*(\\d+)\\s*\\)".r

  private case class RunDef(colName: String, op: String, pre: Column,
                            offset: Int = 1) {
    def accept: (Column, Column) => Column = op match {
      case "<" => _ < _
      case ">" => _ > _
      case "<=" => _ <= _
      case ">=" => _ >= _
    }
  }

  /** Detect and compile self-referential DEFINEs (the reference's V-shape,
    * MatchRecognizeITCase.scala:405,554 `DOWN AS price < LAST(DOWN.price,1)`):
    * one `V.c <op> LAST(V.c, 1)` conjunct (the run-acceptance condition —
    * the first occurrence is accepted on the remaining conjuncts alone, the
    * SQL idiom's `LAST(...) IS NULL OR` branch); every other top-AND conjunct
    * must be self-only and becomes the pushed pre-filter. */
  private def selfRunDefs(spec: Spec): Map[String, RunDef] =
    spec.vars.flatMap { v =>
      spec.defines.get(v.name).flatMap { body =>
        SelfLastRx.findFirstMatchIn(body).map { m0 =>
          require(m0.group(1) == v.name,
            s"DEFINE ${v.name}: LAST(${m0.group(1)}.${m0.group(2)}, 1) must reference " +
              "the variable being defined")
          require(v.quant.contains("+"),
            s"self-referential LAST(${v.name}.${m0.group(2)}, 1) requires the '+' " +
              s"quantifier on ${v.name} (a run), got ${v.quant.getOrElse("none")}")
          val (rel, plain) = splitTopAnd(body).partition(c => SelfLastRx.findFirstIn(c).isDefined)
          require(rel.size == 1,
            s"DEFINE ${v.name}: exactly one LAST(..., 1) conjunct is supported")
          // the conjunct must BE the comparison — `... OR <cond>` tails or
          // arithmetic around LAST(...,1) would otherwise be silently dropped
          val m = SelfLastRx.findFirstMatchIn(rel.head.trim).get
          require(m.matched.trim == rel.head.trim,
            s"DEFINE ${v.name}: the LAST(${v.name}.<col>, 1) conjunct must consist " +
              s"solely of `${v.name}.<col> <op> LAST(${v.name}.<col>, 1)` — cannot " +
              s"compile '${rel.head.trim}' (OR branches or arithmetic around " +
              "LAST(..., 1) are not supported)")
          val pos = spec.vars.map(_.name).toSet
          plain.foreach { c =>
            val foreign = RefRx.findAllMatchIn(c).map(_.group(1)).exists(a => a != v.name && pos(a))
            require(!foreign, s"DEFINE ${v.name}: self-referential runs cannot also " +
              s"reference other pattern variables (conjunct: $c)")
          }
          import scala.util.matching.Regex.quoteReplacement
          val pre = if (plain.isEmpty) lit(true)
            else plain.map(c => expr(RefRx.replaceAllIn(c, mm =>
              quoteReplacement(if (mm.group(1) == v.name) mm.group(2) else mm.matched)))).reduce(_ && _)
          v.name -> RunDef(m.group(2), m.group(3), pre, m.group(4).toInt)
        }
      }
    }.toMap

  /** Split a predicate on top-level ANDs (paren-depth 0), so the self-only
    * conjuncts of a relative DEFINE stay a plain pre-filter pushed into the
    * candidate scan, and only the truly relative conjuncts ride the
    * iterative residual. */
  private def splitTopAnd(body: String): Seq[String] = {
    val out = Seq.newBuilder[String]; val cur = new StringBuilder
    var depth = 0; var i = 0
    while (i < body.length) {
      val ch = body(i)
      if (ch == '(') { depth += 1; cur += ch; i += 1 }
      else if (ch == ')') { depth -= 1; cur += ch; i += 1 }
      else if (depth == 0 && i + 3 <= body.length &&
               body.substring(i, i + 3).equalsIgnoreCase("AND") &&
               (i == 0 || !body(i - 1).isLetterOrDigit) &&
               (i + 3 == body.length || !body(i + 3).isLetterOrDigit)) {
        out += cur.toString; cur.clear(); i += 3
      } else { cur += ch; i += 1 }
    }
    out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Parse a nested/depth-2 TAIL member's iterative DEFINE — ONE relative
    * conjunct `T.col <op> <arithmetic over qualified earlier bindings>` —
    * into (value column, op, threshold SQL over bound-column names); the
    * lowering target is [[Pattern.bindTailResidual]]. Everything else is
    * a named error. */
  private def parseTailResidual(spec: Spec,
                                sv: String): (String, String, String) = {
    val body = spec.defines(sv)
    val posAll = spec.vars.map(_.name).toSet
    val rel = splitTopAnd(body).filter(c =>
      RefRx.findAllMatchIn(c).exists(m =>
        m.group(1) != sv && posAll(m.group(1))))
    require(rel.size == 1, s"nested-group member residual $sv: exactly one " +
      s"relative conjunct is supported (got ${rel.size} in '$body')")
    val m0 = ("(?is)^\\s*(?:" + java.util.regex.Pattern.quote(sv) +
      "\\.)?(\\w+)\\s*(<=|>=|<|>)\\s*(.+)$").r
      .findFirstMatchIn(rel.head.trim).getOrElse(
        sys.error(s"nested-group member residual $sv: the relative conjunct " +
          s"must be `$sv.<col> <,<=,>,>= <expr over earlier " +
          s"bindings>` — cannot compile '${rel.head.trim}'"))
    val (lhsCol, op, rhs) = (m0.group(1), m0.group(2), m0.group(3))
    require(!RefRx.findAllMatchIn(rhs).exists(_.group(1) == sv),
      s"nested-group member residual $sv: the threshold side may not " +
        s"reference $sv itself ('$rhs')")
    // the threshold must be anchor-computable: qualified prior refs +
    // numeric arithmetic only (a bare event column there would be
    // candidate-dependent and silently wrong). RefRx also matches
    // DECIMAL LITERALS ("1.5" parses as 1.5) — digit-led matches are
    // literals, not references: leave them alone in both the residue
    // check and the rewrite
    import scala.util.matching.Regex.quoteReplacement
    def isLiteral(a: String): Boolean = a.head.isDigit
    // every non-literal qualifier must be a KNOWN pattern variable — an
    // unknown one (e.g. a typo'd 'S2.value') would rewrite to a bound
    // column that does not exist and die later as an opaque unresolved-
    // column AnalysisException instead of this named error
    RefRx.findAllMatchIn(rhs).foreach { m =>
      require(isLiteral(m.group(1)) || posAll(m.group(1)),
        s"nested-group member residual $sv: the threshold references " +
          s"'${m.group(1)}.${m.group(2)}', but '${m.group(1)}' is not a " +
          "pattern variable — thresholds are arithmetic over qualified " +
          "EARLIER bindings and numeric literals")
    }
    val residue = RefRx.replaceAllIn(rhs, m =>
      quoteReplacement(if (isLiteral(m.group(1))) m.matched else "0"))
    require("^[-+*/(). 0-9eE]*$".r.matches(residue),
      s"nested-group member residual $sv: the threshold side must be " +
        "arithmetic over qualified earlier bindings and numeric " +
        s"literals (got '$rhs')")
    val rhsBound = RefRx.replaceAllIn(rhs, m => quoteReplacement {
      val (a, cn) = (m.group(1), m.group(2))
      if (isLiteral(a)) m.matched
      else if (cn == spec.orderBy) s"${a}_ts" else s"${a}_$cn"
    })
    (lhsCol, op, rhsBound)
  }

  /** Compile one variable's DEFINE body. `v` is the variable (or alternation
    * branch) being defined; `groupPos` its position in the PATTERN.
    *
    * Relative (iterative) conditions — the reference's most-used
    * MATCH_RECOGNIZE shape (flink-table-planner-blink MatchRecognizeITCase
    * `DEFINE B AS B.price > LAST(A.price, 1)`-style clauses, planned through
    * IterativeCondition): a `<Var>.<col>` token referencing the variable
    * ITSELF addresses the current candidate event; one referencing an
    * EARLIER plain, unquantified variable reads that step's binding and
    * makes the condition iterative (lowered onto
    * [[Pattern.followedByIterative]] + [[Pattern.bind]]).
    *
    * Returns (pre-filter, iterative residual, prior (var, col) references
    * that the earlier step must bind). */
  private def compiledPred(spec: Spec, v: String,
                           groupPos: Int): (Column, Option[Column], Seq[(String, String)]) = {
    import scala.util.matching.Regex.quoteReplacement
    val body = spec.defines.getOrElse(v, return (lit(true), None, Nil))
    val pos = spec.vars.map(_.name).zipWithIndex.toMap
    def priorRefs(s: String): Seq[(String, String)] =
      RefRx.findAllMatchIn(s).map(m => (m.group(1), m.group(2))).toSeq
        .filter { case (a, _) => a != v && pos.contains(a) }
    val prior = priorRefs(body)
    prior.foreach { case (a, _) =>
      require(pos(a) < groupPos,
        s"DEFINE $v references $a, which is not bound earlier in the PATTERN")
      val pv = spec.vars(pos(a))
      // groups excluded explicitly: a BARE group (quant None since r15)
      // would otherwise pass and die later as an unresolved column
      require(pv.alts.isEmpty && pv.quant.isEmpty && pv.seq.isEmpty &&
          pv.inner2Seq.isEmpty,
        s"DEFINE $v references $a: relative references need a plain, unquantified variable")
    }
    def rewritePlain(s: String): String = RefRx.replaceAllIn(s, m =>
      quoteReplacement(if (m.group(1) == v) m.group(2) else m.matched))
    if (prior.isEmpty) (expr(rewritePlain(body)), None, Nil)
    else {
      val (relative, plain) = splitTopAnd(body).partition(c => priorRefs(c).nonEmpty)
      val pre = if (plain.isEmpty) lit(true)
                else plain.map(c => expr(rewritePlain(c))).reduce(_ && _)
      val residual = relative.map { c =>
        expr(RefRx.replaceAllIn(c, m => {
          val (a, cn) = (m.group(1), m.group(2))
          quoteReplacement(
            if (a == v) s"__c_$cn"
            else if (pos.contains(a) && pos(a) < groupPos)
              (if (cn == spec.orderBy) s"${a}_ts" else s"${a}_$cn")
            else m.matched)
        }))
      }.reduce(_ && _)
      (pre, Some(residual), prior.filter(_._2 != spec.orderBy).distinct)
    }
  }

  /** Parse `sql` and run the compiled pattern over `events`. Output: the
    * partition column (under its own name) + one column per MEASURES item;
    * with no MEASURES clause, the raw [[Pattern.detect]] binding columns. */
  /** `maxEventsPerKey` bounds the per-key row materialization of the
    * sequential chain walks (see [[Pattern.DefaultMaxEventsPerKey]]) — a
    * hot partition key past the ceiling refuses by name instead of OOMing
    * an executor. */
  def detect(events0: DataFrame, sql: String,
             maxEventsPerKey: Int = Pattern.DefaultMaxEventsPerKey): DataFrame = {
    // STREAMING route (r19): in the reference MATCH_RECOGNIZE *is* a
    // streaming operator (flink-table-planner-blink StreamExecMatch.scala —
    // there is no batch Match exec in 1.10); an unbounded frame therefore
    // lowers the SAME SQL text onto the StreamOps.cepPattern* twins, with
    // the watermark read from the frame's own EventTimeWatermark node (the
    // FlinkDdl `WATERMARK FOR ts AS ts - INTERVAL ...` declaration).
    // `maxEventsPerKey` does not apply there: it bounds the BATCH walks'
    // per-key row materialization, which the incremental twins never do —
    // their state bound is detectStream's `maxPartials` (open partial
    // matches per key)
    if (events0.isStreaming) return detectStream(events0, sql)
    val spec = parse(sql)
    // PREV physical navigation (rewritePrev's `__plag<n>_<col>` tokens):
    // precompute each needed lag ONCE over (PARTITION BY key ORDER BY
    // ts[, tie]) — one keyed window on the event stream, the same
    // partitioning every downstream step shuffles on, so no extra exchange
    // pattern at scale; the lag columns then bind like any event column.
    val PlagRx = "__plag(\\d+)_(\\w+)".r
    val lagPairs = spec.defines.values.flatMap(b => PlagRx.findAllMatchIn(b)
      .map(m => (m.group(1).toInt, m.group(2)))).toSeq.distinct
    val events = if (lagPairs.isEmpty) events0 else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(spec.partitionBy.map(col): _*)
        .orderBy((spec.orderBy +: spec.orderTies).map(col): _*)
      lagPairs.foldLeft(events0) { case (df, (n, c)) =>
        df.withColumn(s"__plag${n}_$c", lag(col(c), n).over(w)) }
    }
    // FOREIGN physical PREV inside a '+'/'*' run's DEFINE would only be
    // checked at the run's FIRST binding (members re-check the pre-filter
    // alone) — named error, never silently-wrong members. Self physical
    // PREV on a run routes to the run-member LAST spelling instead
    // (rewritePrev), and plain/group-member self PREV is a pre-filter.
    spec.vars.filter(v => v.quant.exists(isRunQ))
      .foreach { v =>
        (v.name +: (v.alts ++ v.seq)).flatMap(spec.defines.get).foreach { b =>
          val foreignPlag = RefRx.findAllMatchIn(b).exists(m =>
            m.group(2).startsWith("__plag") && m.group(1) != v.name &&
              !v.seq.contains(m.group(1)) && !v.alts.contains(m.group(1)))
          require(!foreignPlag,
            s"DEFINE under the quantified ${v.name}: PREV over another " +
              "variable's binding cannot be re-checked per run member — " +
              "not supported on '+'/'*' runs")
        }
      }
    // non-timestamp columns referenced by measures must be bound at the
    // step — except `cls` on an alternation group, which the compile emits
    // automatically (the CLASSIFIER analog, not an event column)
    val altVars = spec.vars.filter(_.alts.nonEmpty).map(_.name).toSet
    val keepByVar: Map[String, Seq[String]] = spec.measures
      .filter(m => !m.fn.contains("MATCH_NUMBER") && !m.fn.contains("CLASSIFIER") &&
        m.field != "ts" && !(altVars(m.varName) && m.field == "cls"))
      .groupBy(_.varName)
      .map { case (v, ms) => v -> ms.map(_.field).distinct }
    // compile every DEFINE up front: relative references discovered here add
    // bind() requirements on the REFERENCED (earlier) step, merged with the
    // measure-driven binds before the lowering walk
    val selfRuns = selfRunDefs(spec)
    val compiled: Map[String, (Column, Option[Column], Seq[(String, String)])] =
      spec.vars.zipWithIndex.flatMap { case (v, i) =>
        val own = if (v.alts.nonEmpty || v.seq.nonEmpty || selfRuns.contains(v.name)) Nil
                  else Seq(v.name -> compiledPred(spec, v.name, i))
        val branches = v.alts.map { b =>
          val c = compiledPred(spec, b, i)
          require(c._2.isEmpty,
            s"alternation branch $b cannot use relative references")
          b -> c
        }
        val seqSubs = (v.inner2Seq ++ v.midSeqs.flatten ++ v.seq).map { sv =>
          val c = compiledPred(spec, sv, i)
          // nested group members pass through: closing-level members
          // lower onto bindTailResidual (r16), inner members onto
          // bindInnerResidual (r17) in the lowering walk
          require(c._2.isEmpty || v.inner2Seq.nonEmpty,
            s"group sub-variable $sv cannot use relative references")
          sv -> c
        }
        own ++ branches ++ seqSubs
      }.toMap
    val neededBinds: Map[String, Seq[String]] = compiled.values.flatMap(_._3).toSeq
      .distinct.groupBy(_._1).map { case (v, refs) => v -> refs.map(_._2) }
    // an element-absent variable (reluctant zero-minimum, r18) never
    // binds, so a relative reference to it could only ever read null —
    // almost certainly a query bug: reject by name. The textual scan is
    // needed because compiledPred only extracts references to variables
    // still IN the pattern; a qualified reference to a dropped one would
    // otherwise surface as an opaque unresolved-attribute error
    locally {
      val absRef = neededBinds.keySet.intersect(spec.absentVars) ++
        spec.absentVars.filter(av => spec.defines.exists { case (dv, b) =>
          // scan with string literals BLANKED — 'c.example.com' inside a
          // predicate must not read as a reference to variable C
          val noLits = b.replaceAll("'[^']*'", "''")
          !spec.absentVars.contains(dv) && dv != av &&
            ("(?i)(?<![\\w.])" + java.util.regex.Pattern.quote(av) +
              "\\s*\\.").r.findFirstIn(noLits).isDefined
        })
      require(absRef.isEmpty,
        s"DEFINE references ${absRef.mkString(", ")}: the variable " +
          "carries a reluctant zero-minimum quantifier and never binds " +
          "(its bindings would be null on every match) — drop the " +
          "reference or use a greedy quantifier")
    }
    val bindByVar0: Map[String, Seq[String]] = (keepByVar.keySet ++ neededBinds.keySet)
      .map(v => v -> (keepByVar.getOrElse(v, Nil) ++ neededBinds.getOrElse(v, Nil)).distinct)
      .toMap
    // ORDER BY tiebreak: plain steps bind it FIRST, so each step's
    // lexicographic (ts, payload) binding refinement resolves equal-ts
    // candidates by the tiebreak before any measure payload. Runs and
    // sequence groups aggregate their members instead — there the tiebreak
    // steers which equal-ts candidate's VALUES are read (first/last member
    // values, member value bindings) via Pattern.tieBreak, wired in the
    // lowering walk below. PLAIN alternations compose since r18: the
    // tiebreak leads the binding payload, so equal-ts candidates bind by
    // (ts, ties..., cls) — a well-defined composite that steers WHICH
    // BRANCH CLASSIFIES (Pattern.tieBreak on the alternation step).
    // QUANTIFIED alternations and self-referential runs stay named errors,
    // with the impossibility argument: there the classifier does not just
    // label a binding — it feeds the per-branch member COUNTS / the run
    // SEGMENTATION itself, so a tie-steered different same-ts member
    // silently changes the aggregate shape of the match (how many members
    // each branch counted; where a run restarts), not merely which
    // payload is read — there is no composite order that preserves both
    // the documented (ts, branch) membership semantics and the user's
    // tie preference.
    val bindByVar: Map[String, Seq[String]] =
      if (spec.orderTies.isEmpty) bindByVar0
      else {
        spec.vars.foreach { v =>
          require((v.alts.isEmpty || v.quant.isEmpty) && !selfRuns.contains(v.name),
            s"ORDER BY ${spec.orderBy}, ${spec.orderTies.mkString(", ")}: " +
              "the tiebreak composes with plain/optional/times variables, " +
              "'+'/'*' runs, sequence groups and PLAIN alternations " +
              s"(${v.name} is a quantified alternation / self-referential " +
              "run, where the classifier feeds branch counts / the run " +
              "segmentation — a tie-steered member changes those, not " +
              "just which payload binds)")
        }
        // runs, groups and alternations keep their aggregate/classifier
        // bind columns untouched — prepending the ties would add them to
        // the run aggregates / re-order them after cls (alternation ties
        // ride Pattern.tieBreak instead, ahead of the classifier)
        bindByVar0 ++ spec.vars.filter(v => v.seq.isEmpty && v.alts.isEmpty &&
            !v.quant.exists(isRunQ))
          .map(v => v.name -> (spec.orderTies ++ bindByVar0
            .getOrElse(v.name, Nil).filterNot(spec.orderTies.contains)))
      }
    require(spec.vars.head.alts.isEmpty, "first pattern variable cannot be an alternation")
    require(spec.vars.head.seq.isEmpty, "first pattern variable cannot be a sequence group")
    require(spec.vars.head.quant.isEmpty, "first pattern variable cannot be quantified")
    // group sub-vars bind the chain boundary timestamps plus (via
    // bindGroup) per-member running value aggregates; a value measure must
    // address a specific MEMBER (the group's own name spans several
    // variables and would be ambiguous)
    val groupOf: Map[String, PatternVar] = spec.vars.filter(_.seq.nonEmpty)
      .flatMap(g => (g.name +: (g.inner2Seq ++ g.midSeqs.flatten ++
        g.seq)).map(_ -> g)).toMap
    spec.measures.filter(m => groupOf.contains(m.varName)).foreach { m =>
      require(m.field == "ts" || m.varName != groupOf(m.varName).name,
        s"value measures over a sequence group must address a member " +
          s"variable (got ${m.varName}.${m.field} on the group itself)")
      // nested member value measures ride bindGroup through the two-level
      // chain walk (r15) — validated in the lowering below
    }
    // ALL ROWS over a sequence group: the chain additionally materializes
    // per-repetition member bindings (see materializeGroupRows below);
    // unsupported combinations are rejected by name in allRowsOutput
    var pat = Pattern.begin(spec.vars.head.name, compiled(spec.vars.head.name)._1)
    bindByVar.get(spec.vars.head.name).foreach(ks => pat = pat.bind(ks: _*))
    spec.vars.tail.foreach { v =>
      if (selfRuns.contains(v.name)) {
        // the '+' quantifier is consumed by the run lowering itself
        val rd = selfRuns(v.name)
        pat = pat.followedByRun(v.name, rd.pre, rd.colName, rd.accept, rd.offset)
      } else if (v.inner2Seq.nonEmpty) {
        // nested group at ANY depth — ((I...)+ T...)+, (((I...)+ M...)+
        // T...)+, ... — flink-cep GroupPattern composed recursively; the
        // chain carries boundary timestamps, per-level repetition counts,
        // bindGroup running value aggregates and materialized ALL ROWS
        // rows, folded through every pending level.
        // INNER members MAY be iterative (r17): the m49
        // per-distinct-threshold-tuple sub-match parametrization is
        // depth-agnostic — the innermost compile is the same at every depth
        val innerResiduals2: Seq[(String, (String, String, String))] =
          v.inner2Seq.flatMap { sv =>
            if (compiled(sv)._2.isEmpty) None
            else Some(sv -> parseTailResidual(spec, sv))
          }
        // CLOSING-level members MAY be iterative (r16 — flink-cep
        // IterativeCondition.java:65 inside a GroupPattern; mids r17): ONE
        // relative conjunct of the shape `T.col <op> <arithmetic over
        // earlier plain bindings>` lowers onto Pattern.bindTailResidual —
        // a closer's satisfying scan is shared between its binding and the
        // punctuation of the chain below it. Other shapes are named errors
        val tailResiduals2: Seq[(String, (String, String, String))] =
          (v.midSeqs.flatten ++ v.seq).flatMap { sv =>
            if (compiled(sv)._2.isEmpty) None
            else Some(sv -> parseTailResidual(spec, sv))
          }
        // EVERY depth lowers onto the ONE depth-parametric walk: the
        // closing levels are the mid level lists, innermost first, with
        // the outer tails last
        val closingLevels =
          (v.midSeqs :+ v.seq)
            .map(_.map(sv => sv -> compiled(sv)._1))
        pat = pat.followedByNestedNGroup(v.name,
          v.inner2Seq.map(sv => sv -> compiled(sv)._1),
          closingLevels,
          innerOptional = v.innerStar)
        tailResiduals2.foreach { case (sv, (c, op, rhs)) =>
          pat = pat.bindTailResidual(sv, c, op, expr(rhs))
        }
        innerResiduals2.foreach { case (sv, (c, op, rhs)) =>
          pat = pat.bindInnerResidual(sv, c, op, expr(rhs))
        }
        // member VALUE measures (r16): the SHARED order derivation — the
        // engine's groupKeep sequence (members in declaration order, each
        // member's columns in bindByVar order)
        nestedKeepOrder(v, bindByVar)
          .foreach { case (sv, c) => pat = pat.bindGroup(sv, c) }
        // composite ORDER BY (r16/r17, the former named rejections):
        // equal-ts candidates' values argmin by (ties..., value) at every
        // nesting level — membership and succession stay time-level, the
        // one-level group convention
        if (spec.orderTies.nonEmpty) pat = pat.tieBreak(spec.orderTies: _*)
        // ALL ROWS (r16): the walk materializes every committed bound
        // event with running (reps, mids, subs) counts
        if (spec.allRows) pat = pat.materializeNestedRows()
        pat = if (v.quant.contains("*")) pat.zeroOrMore() else pat.oneOrMore()
      } else if (v.seq.nonEmpty) {
        // sequence group (B C)+ / (B C)* — flink-cep GroupPattern under
        // oneOrMore[/optional] (the quantifier is validated at parse time);
        // member value measures ride the chain as running aggregates
        pat = pat.followedByGroup(v.name, v.seq.map(sv => sv -> compiled(sv)._1): _*)
        v.seq.foreach { sv =>
          bindByVar.get(sv).foreach(ks => pat = pat.bindGroup(sv, ks: _*))
        }
        // ALL ROWS needs each repetition's member bindings on the match row
        if (spec.allRows) pat = pat.materializeGroupRows()
        // composite ORDER BY: member value bindings argmin by (tie, value)
        if (spec.orderTies.nonEmpty) pat = pat.tieBreak(spec.orderTies: _*)
        // quant None = the bare/reluctant-collapsed SINGLE repetition —
        // the group walk stopped after one repetition
        v.quant.foreach(q =>
          pat = if (q == "*") pat.zeroOrMore() else pat.oneOrMore())
      } else if (v.alts.nonEmpty) {
        pat = pat.followedByOneOf(v.name, v.alts.map(b => b -> compiled(b)._1): _*)
        // composite ORDER BY on a plain alternation (r18): the ties lead
        // the binding payload ahead of the classifier — (ts, ties..., cls)
        if (spec.orderTies.nonEmpty && v.quant.isEmpty)
          pat = pat.tieBreak(spec.orderTies: _*)
        // quantified alternation group: the '+'/'*' run over the union of
        // branches, per-branch counts emitted by the run aggregate
        v.quant.foreach {
          case "+" => pat = pat.oneOrMore()
          case "*" => pat = pat.zeroOrMore()
          case q => sys.error(s"alternation group ${v.name}: quantifier $q unsupported")
        }
      } else {
        val (pre, iterPred, _) = compiled(v.name)
        pat = iterPred match {
          case Some(res) => pat.followedByIterative(v.name, pre, res)
          case None => pat.followedBy(v.name, pre)
        }
        v.quant.foreach {
          case "?" => pat = pat.optional()
          case "+" => pat = pat.oneOrMore()
          case "*" => pat = pat.zeroOrMore()
          case q if q.endsWith(",}") =>
            // SQL '{n,}' = n-or-more, greedy (flink-cep timesOrMore)
            val n = q.stripPrefix("{").stripSuffix(",}").toInt
            require(n >= 1, s"quantifier {$n,} on ${v.name} must be >= 1")
            pat = pat.timesOrMore(n)
          case q =>
            val b = q.stripPrefix("{").stripSuffix("}").split(",")
            val (from, to) = if (b.length == 2) (b(0).toInt, b(1).toInt)
                             else (b(0).toInt, b(0).toInt)
            // {n,n} is valid MATCH_RECOGNIZE syntax and means exactly-n:
            // lower to times(n), not timesRange (which requires to > from)
            if (from == to) {
              require(from >= 1, s"quantifier {$from} on ${v.name} must be >= 1")
              pat = pat.times(from)
            } else {
              require(from >= 1, s"quantifier {$from,$to} on ${v.name}: a zero " +
                "lower bound is not supported — use '?' for an optional step")
              pat = pat.timesRange(from, to)
            }
        }
      }
      bindByVar.get(v.name).foreach { ks =>
        val isRun = selfRuns.contains(v.name) ||
          v.quant.exists(isRunQ)
        // runs aggregate their value measures; every other quantifier binds
        // per expansion ('?' and the '{n,m}' optional tail bind null when
        // skipped — SUM/LAST/COUNT measures coalesce over them)
        if (isRun) pat = pat.bindRun(ks: _*)
        else pat = pat.bind(ks: _*)
      }
      // composite ORDER BY on a plain '+'/'*' run: first/last member VALUES
      // argmin/argmax by (tie, value) — membership stays time-level
      if (v.seq.isEmpty && v.alts.isEmpty && !selfRuns.contains(v.name) &&
          v.quant.exists(isRunQ))
        if (spec.orderTies.nonEmpty) pat = pat.tieBreak(spec.orderTies: _*)
    }
    if (spec.skipPastLast) pat = pat.afterMatchSkipPastLastEvent()
    spec.skipTo.foreach { case (v, isLast) =>
      require(spec.vars.exists(_.name == v),
        s"AFTER MATCH SKIP TO ${if (isLast) "LAST" else "FIRST"} $v: " +
          s"'$v' is not a PATTERN variable")
      pat = if (isLast) pat.afterMatchSkipToLast(v) else pat.afterMatchSkipToFirst(v)
    }
    // composite partition keys ride detect's single key column as a struct;
    // the output selects re-expand them under their own names
    val keyCol = if (spec.partitionBy.size == 1) col(spec.partitionBy.head)
                 else struct(spec.partitionBy.map(col): _*)
    val matches = pat.within(spec.withinMs)
      .detect(events, keyCol, col(spec.orderBy), maxEventsPerKey)
    // (min, max) occurrences per variable: '?' = (0,1), '{n}' = (n,n),
    // '{n,m}' = (n,m), unquantified (and '+'/'*', which never read these
    // bounds — their measures route to the run columns) = (1,1)
    val bounds: Map[String, (Int, Int)] = spec.vars.map { v =>
      v.name -> (v.quant match {
        case Some("?") => (0, 1)
        case Some(q) if q.startsWith("{") =>
          val b = q.stripPrefix("{").stripSuffix("}").split(",")
          if (b.length == 2) (b(0).toInt, b(1).toInt) else (b(0).toInt, b(0).toInt)
        case _ => (1, 1)
      })
    }.toMap
    if (spec.allRows) allRowsOutput(spec, matches, bounds, events, keyCol, selfRuns, compiled, bindByVar)
    else if (spec.measures.isEmpty) matches
    else {
      val quantOf: Map[String, Option[String]] = spec.vars.map(v => v.name -> v.quant).toMap
      // branches of a QUANTIFIED alternation (B|C)+: per-branch member
      // counts are materialized by the run aggregate as <group>_n_<branch>
      val altRunOf: Map[String, PatternVar] = spec.vars
        .filter(v => v.alts.nonEmpty && v.quant.nonEmpty)
        .flatMap(v => v.alts.map(_ -> v)).toMap
      // MATCH_NUMBER(): ordinal over the MATCHES of a partition, ordered by
      // the binding timestamps in pattern order (the match table is tiny
      // relative to facts, so this window is cheap; identical-binding ties
      // get arbitrary ordinals — the rows are indistinguishable anyway)
      lazy val mnWindow = org.apache.spark.sql.expressions.Window
        .partitionBy(col("key"))
        .orderBy(matches.columns.filter(_.endsWith("_ts")).map(col).toIndexedSeq: _*)
      val cols = spec.measures.map { m =>
        val isRunVar = selfRuns.contains(m.varName) ||
          quantOf.get(m.varName).flatten.exists(isRunQ)
        val c = if (m.fn.contains("MATCH_NUMBER")) {
          row_number().over(mnWindow).cast("long")
        } else if (m.fn.contains("CLASSIFIER")) {
          // ONE ROW: the classifier of the match's LAST row = the final
          // PATTERN element's variable (its final sub-step for a sequence
          // group; the matched branch for an alternation group). A final
          // element that can bind NOTHING ('?'/'*') would make the last row
          // a different variable — named error, not a wrong constant.
          val last = spec.vars.last
          require(!last.quant.exists(q => q == "?" || q == "*") &&
              bounds(last.name)._1 >= 1,
            s"CLASSIFIER(): the final PATTERN element ${last.name} is " +
              "optional — the last row's variable is data-dependent and " +
              "not supported under ONE ROW PER MATCH (use ALL ROWS)")
          // a quantified alternation's last MEMBER's branch is not
          // materialized (the run aggregates members) — named error, not
          // the first member's classifier
          require(!(last.alts.nonEmpty && last.quant.nonEmpty),
            "CLASSIFIER(): the final element is a quantified alternation " +
              "run — the last member's branch is not materialized (use the " +
              "per-branch COUNT measures instead)")
          if (last.alts.nonEmpty) col(s"${last.name}_cls")
          else if (last.seq.nonEmpty) lit(last.seq.last)
          else lit(last.name)
        } else if (spec.absentVars.contains(m.varName)) {
          // element-absent variable (reluctant zero-minimum, r18): it
          // never binds — COUNT is 0, every other measure null (the
          // lowering the former named rejection promised)
          m.fn match {
            case Some("COUNT") => lit(0L)
            case _ if m.field == "ts" => lit(null).cast("timestamp")
            case _ => lit(null).cast("double")
          }
        } else if (altRunOf.contains(m.varName)) {
          // branch of a quantified alternation: COUNT only (the run's
          // per-branch member count); branch value aggregates are not
          // materialized — named error
          val g = altRunOf(m.varName)
          require(m.field == "ts" && m.fn.contains("COUNT"),
            s"branch ${m.varName} of quantified alternation ${g.name}: " +
              s"COUNT(${m.varName}.ts) is the only branch measure (value " +
              "aggregates are per-run: use the group variable)")
          col(s"${g.name}_n_${m.varName}")
        } else if (groupOf.contains(m.varName)) {
          val g = groupOf(m.varName)
          if (g.inner2Seq.nonEmpty) {
            // nested group at any depth: the chain binds (first
            // repetition's first inner binding, last repetition's final
            // tail binding, outer / per-level / inner repetition counts).
            // Each outer repetition binds every OUTER tail exactly once
            // (COUNT(T.ts) = outer count), each level-l repetition every
            // level-l MID step once (COUNT(M.ts) = total level-l count)
            // and each inner sub-sequence every INNER member once
            // (COUNT(I.ts) = total inner count). Member VALUE measures
            // are bindGroup's running aggregates, folded per COMPLETED
            // repetition — the one-level group chain's column naming
            if (m.field != "ts") memberValueMeasure(g.name, m)
            else m.fn match {
              case Some("COUNT") if g.inner2Seq.contains(m.varName) =>
                col(s"${g.name}_inner_n")
              // each intermediate-level member closes its level's
              // repetition exactly once: COUNT = the walk's per-level
              // total (level 1 keeps the historical `mid_n` spelling,
              // deeper levels `mid{l}_n` — ANY depth since r20)
              case Some("COUNT") if g.midSeqs.exists(_.contains(m.varName)) =>
                val l = g.midSeqs.indexWhere(_.contains(m.varName)) + 1
                col(if (l == 1) s"${g.name}_mid_n" else s"${g.name}_mid${l}_n")
              case Some("COUNT") => col(s"${g.name}_n")
              case Some("FIRST") =>
                require(m.varName == g.name || m.varName == g.inner2Seq.head,
                  s"FIRST(${m.varName}.ts): the nested chain materializes " +
                    s"the first repetition's FIRST inner binding only " +
                    s"(${g.inner2Seq.head})")
                // inner '*': the first repetition may be closer-only, so
                // the boundary is not necessarily an inner binding — only
                // the group-level spelling stays truthful
                require(!g.innerStar || m.varName == g.name,
                  s"FIRST(${m.varName}.ts): with an inner '*' the first " +
                    "repetition may start at " +
                    (if (g.midSeqs.isEmpty) "a tail" else "a mid step") +
                    s" — use FIRST(${g.name}.ts) for the group boundary")
                col(s"${g.name}_first_ts")
              case Some("LAST") =>
                require(m.varName == g.name || m.varName == g.seq.last,
                  s"LAST(${m.varName}.ts): the nested chain materializes " +
                    s"the last repetition's FINAL tail binding only " +
                    s"(${g.seq.last})")
                col(s"${g.name}_last_ts")
              case other => sys.error(s"nested group ${g.name}: " +
                s"FIRST/LAST/COUNT only over timestamps (got " +
                s"${other.getOrElse("a bare reference")})")
            }
          } else if (m.field == "ts") m.fn match {
            // the chain binds (first repetition's first sub-binding, last
            // repetition's final sub-binding, repetition count): FIRST
            // addresses the group's first sub-variable (or the group
            // itself), LAST its last, COUNT any member
            case Some("COUNT") if g.quant.isEmpty =>
              // bare/reluctant-collapsed single repetition: no _n column —
              // the count is 1 (0 never occurs: the inner join drops
              // starts whose repetition cannot complete)
              when(col(s"${g.name}_first_ts").isNotNull, lit(1L))
                .otherwise(lit(0L))
            case Some("COUNT") => col(s"${g.name}_n")
            case Some("FIRST") =>
              require(m.varName == g.name || m.varName == g.seq.head,
                s"FIRST(${m.varName}.ts): the chain materializes the first " +
                  s"repetition's FIRST sub-step only (${g.seq.head})")
              col(s"${g.name}_first_ts")
            case Some("LAST") =>
              require(m.varName == g.name || m.varName == g.seq.last,
                s"LAST(${m.varName}.ts): the chain materializes the last " +
                  s"repetition's FINAL sub-step only (${g.seq.last})")
              col(s"${g.name}_last_ts")
            case other => sys.error(s"group variable ${g.name}: " +
              s"FIRST/LAST/COUNT only over timestamps (got " +
              s"${other.getOrElse("a bare reference")})")
          } else memberValueMeasure(g.name, m)
        } else if (isRunVar) {
          // a run binds its boundary timestamps + count, and (via bindRun)
          // per-column running SUM/MIN/MAX and first/last member values
          if (m.field == "ts") m.fn match {
            case Some("FIRST") => col(s"${m.varName}_first_ts")
            case Some("LAST") => col(s"${m.varName}_last_ts")
            case Some("COUNT") => col(s"${m.varName}_n")
            case other => sys.error(s"only FIRST/LAST/COUNT over a run " +
              s"variable's timestamps (got ${other.getOrElse("a bare reference")} on ${m.varName})")
          } else m.fn match {
            case Some("SUM") => col(s"${m.varName}_sum_${m.field}")
            // AVG divides the run's bound SUM by its member count — both
            // already materialized, so the measure is a pure projection
            case Some("AVG") =>
              col(s"${m.varName}_sum_${m.field}") / col(s"${m.varName}_n")
            case Some("MIN") => col(s"${m.varName}_min_${m.field}")
            case Some("MAX") => col(s"${m.varName}_max_${m.field}")
            case Some("FIRST") => col(s"${m.varName}_first_${m.field}")
            case Some("LAST") => col(s"${m.varName}_last_${m.field}")
            // COUNT over a run counts occurrences (the column is bound by
            // the run's own predicate, so members are never null)
            case Some("COUNT") => col(s"${m.varName}_n")
            case other => sys.error(s"${m.varName} is a run variable — " +
              s"use FIRST/LAST/SUM/COUNT/MIN/MAX/AVG (got " +
              s"${other.getOrElse("a bare reference")})")
          }
        } else {
          val (mn, mx) = bounds.getOrElse(m.varName, sys.error(s"unknown variable ${m.varName}"))
          // one source column per expansion: V_field or V_i_field; with a
          // range quantifier the tail expansions are nullable
          val srcs = if (mx == 1) Seq(s"${m.varName}_${m.field}")
                     else (1 to mx).map(i => s"${m.varName}_${i}_${m.field}")
          m.fn match {
            case None =>
              require(mx == 1, s"${m.varName} is quantified — use FIRST/LAST/SUM/COUNT")
              col(srcs.head)
            case Some("FIRST") => col(srcs.head)
            case Some("LAST") =>
              if (mn == mx) col(srcs.last) else coalesce(srcs.reverse.map(col): _*)
            case Some("SUM") =>
              // the tail expansions of '{n,m}' are nullable — sum the bound
              // ones (the first expansion is mandatory, so the seed is
              // non-null and an all-bound sum is unchanged)
              srcs.map(col).reduce((a, b) => a + coalesce(b, lit(0)))
            case Some("AVG") =>
              srcs.map(col).reduce((a, b) => a + coalesce(b, lit(0))) /
                srcs.map(s => when(col(s).isNotNull, 1L).otherwise(0L)).reduce(_ + _)
            case Some("MIN") =>
              if (srcs.size == 1) col(srcs.head) else least(srcs.map(col): _*)
            case Some("MAX") =>
              if (srcs.size == 1) col(srcs.head) else greatest(srcs.map(col): _*)
            case Some("COUNT") =>
              srcs.map(s => when(col(s).isNotNull, 1L).otherwise(0L)).reduce(_ + _)
            case Some(f) => sys.error(s"unsupported measure function $f")
          }
        }
        c.as(m.alias)
      }
      matches.select(keyOut(spec) ++ cols: _*)
    }
  }

  /** ALL ROWS PER MATCH (reference StreamExecMatch.scala and
    * MatchRecognizeITCase's per-row emission): one output row per matched
    * EVENT — the partition column, a `cls` classifier naming the variable
    * the row bound to (the CLASSIFIER() analog), the event's `ts`, and each
    * measure with RUNNING semantics: its value as of this row — null before
    * the referenced variable binds, the running fold over the occurrences
    * bound so far for FIRST/LAST/SUM (COUNT runs from 0). The static
    * expansions (positions known at compile time) explode as one narrow
    * generator over the ONE-ROW match output — no extra join or shuffle.
    *
    * '+'/'*' run variables (any number) are expandable ([[allRowsRun]]):
    * each run's member rows come from one keyed equi-join of the match
    * table back onto that run's candidates over [first_ts, last_ts]
    * (members ARE the pred candidates in that span — runs are contiguous
    * candidate segments), with running measures as one window over each
    * match's members. Quantified ALTERNATION runs expand the same way with
    * a per-member CLASSIFIER and running per-branch counts; sequence
    * groups route to [[allRowsGroup]]. */
  private def allRowsOutput(spec: Spec, matches0: DataFrame,
                            bounds: Map[String, (Int, Int)],
                            events: DataFrame, keyCol: Column,
                            selfRuns: Map[String, RunDef],
                            compiled: Map[String, (Column, Option[Column], Seq[(String, String)])],
                            bindByVar: Map[String, Seq[String]]): DataFrame = {
    val runVs = spec.vars.filter(v => v.quant.exists(isRunQ))
    val nestedVs = spec.vars.filter(_.inner2Seq.nonEmpty)
    if (nestedVs.nonEmpty) {
      require(nestedVs.size == 1 && spec.vars.count(_.seq.nonEmpty) == 1,
        "ALL ROWS PER MATCH supports one nested group (no other groups)")
      require(!runVs.exists(v => v.seq.isEmpty),
        "ALL ROWS PER MATCH: a nested group does not compose with plain " +
          "'+'/'*' runs in the same pattern")
      return allRowsNested2(spec, matches0, nestedVs.head, bindByVar)
    }
    val groupVs = spec.vars.filter(_.seq.nonEmpty)
    if (groupVs.nonEmpty) {
      require(groupVs.size == 1,
        "ALL ROWS PER MATCH supports one sequence group")
      val plainRuns = runVs.filter(_.seq.isEmpty)
      if (plainRuns.isEmpty)
        return allRowsGroup(spec, matches0, bounds, groupVs.head, bindByVar)
      // mixed shape `(S (B C)+ V+ P)`: group member rows from the
      // materialized repetition arrays, run member rows from the keyed
      // join-back — sequential pattern order makes cross-shape measures
      // closed-form (final before, empty after)
      return allRowsGroupRun(spec, matches0, bounds, events, keyCol,
        selfRuns, compiled, bindByVar, groupVs.head, plainRuns)
    }
    if (runVs.nonEmpty)
      return allRowsRun(spec, matches0, bounds, events, keyCol, selfRuns,
        compiled, runVs)
    // MATCH_NUMBER() is constant across a match's rows (SQL 2016: the
    // ordinal of the match within its partition): computed on the ONE-ROW
    // match table before the explode, so every exploded row inherits it
    val mnAliases = spec.measures.filter(_.fn.contains("MATCH_NUMBER")).map(_.alias)
    val matches = if (mnAliases.isEmpty) matches0 else {
      val mnWindow = org.apache.spark.sql.expressions.Window
        .partitionBy(col("key"))
        .orderBy(matches0.columns.filter(_.endsWith("_ts")).map(col).toIndexedSeq: _*)
      mnAliases.foldLeft(matches0)((df, a) =>
        df.withColumn(s"__mn_$a", row_number().over(mnWindow).cast("long")))
    }
    // global position of each variable's first expansion, in pattern order
    val offsets: Map[String, Int] = {
      var p = 0
      spec.vars.map { v => val o = v.name -> p; p += bounds(v.name)._2; o }.toMap
    }
    val positions: Seq[(String, String)] = spec.vars.flatMap { v =>
      val mx = bounds(v.name)._2
      if (mx == 1) Seq(v.name -> s"${v.name}_ts")
      else (1 to mx).map(i => v.name -> s"${v.name}_${i}_ts")
    }
    def srcCol(v: String, i: Int, field: String): String =
      if (bounds(v)._2 == 1) s"${v}_$field" else s"${v}_${i}_$field"
    // a typed NULL of the source column's type (array(struct) needs every
    // position's measure struct-field to agree on type)
    def nullOf(src: String): Column = when(lit(false), col(src))
    def runningAt(m: Measure, p: Int): Column = {
      if (m.fn.contains("MATCH_NUMBER")) return col(s"__mn_${m.alias}")
      // CLASSIFIER(): this row's own variable (same value as the `cls` column)
      if (m.fn.contains("CLASSIFIER")) return lit(positions(p)._1)
      // element-absent variable (reluctant zero-minimum, r18): no row ever
      // binds it — COUNT 0, everything else null, on every row
      if (spec.absentVars.contains(m.varName))
        return m.fn match {
          case Some("COUNT") => lit(0L)
          case _ if m.field == "ts" => lit(null).cast("timestamp")
          case _ => lit(null).cast("double")
        }
      val (mn, mx) = bounds.getOrElse(m.varName, sys.error(s"unknown variable ${m.varName}"))
      val visible = (1 to mx).filter(i => offsets(m.varName) + i - 1 <= p)
      val srcs = visible.map(i => srcCol(m.varName, i, m.field))
      val first = srcCol(m.varName, 1, m.field)
      m.fn match {
        case None =>
          require(mx == 1, s"${m.varName} is quantified — use FIRST/LAST/SUM/COUNT")
          if (visible.nonEmpty) col(srcs.head) else nullOf(first)
        case Some("FIRST") => if (visible.nonEmpty) col(srcs.head) else nullOf(first)
        case Some("LAST") =>
          if (visible.isEmpty) nullOf(first) else coalesce(srcs.reverse.map(col): _*)
        case Some("SUM") =>
          if (visible.isEmpty) nullOf(first)
          else srcs.map(col).reduce((a, b) => a + coalesce(b, lit(0)))
        case Some("AVG") =>
          // running AVG = running SUM / running COUNT; the first visible
          // expansion is mandatory and bound, so the divisor is >= 1
          if (visible.isEmpty) nullOf(first)
          else srcs.map(col).reduce((a, b) => a + coalesce(b, lit(0))) /
            srcs.map(s => when(col(s).isNotNull, 1L).otherwise(0L)).reduce(_ + _)
        case Some("MIN") =>
          if (visible.isEmpty) nullOf(first)
          else if (srcs.size == 1) col(srcs.head) else least(srcs.map(col): _*)
        case Some("MAX") =>
          if (visible.isEmpty) nullOf(first)
          else if (srcs.size == 1) col(srcs.head) else greatest(srcs.map(col): _*)
        case Some("COUNT") =>
          if (visible.isEmpty) lit(0L)
          else srcs.map(s => when(col(s).isNotNull, 1L).otherwise(0L)).reduce(_ + _)
        case Some(f) => sys.error(s"unsupported measure function $f")
      }
    }
    val structs = positions.zipWithIndex.map { case ((vn, tsCol), p) =>
      struct((lit(vn).as("cls") +: col(tsCol).as("ts") +:
        spec.measures.map(m => runningAt(m, p).as(m.alias))): _*)
    }
    val rowCols = Seq("cls", "ts") ++ spec.measures.map(_.alias)
    matches.select(keyOut(spec) :+ explode(array(structs: _*)).as("__r"): _*)
      .filter(col("__r.ts").isNotNull) // skipped optional expansions emit no row
      .select(spec.partitionBy.map(col) ++ rowCols.map(n => col(s"__r.$n").as(n)): _*)
  }

  /** [[allRowsOutput]]'s NESTED-GROUP expansion at ANY depth — ALL ROWS
    * over `((B C)+ V)+`, `(((B C)+ V)+ W)+` and deeper (reference
    * StreamExecMatch emits member rows for ANY pattern shape): the walk
    * materialized every COMMITTED bound event with its classifier and
    * running counts (`Pattern.materializeNestedRows`: `<g>_rows` = (ts,
    * cls, reps, [.., mids2, mids,] subs[, value snapshots]) — rows of
    * rejected speculations at any level and uncommitted outer attempts
    * were discarded in the walk), so the expansion is one generator over the
    * match row. Supported measures: plain unquantified PREFIX variables,
    * CLASSIFIER(), MATCH_NUMBER(), running COUNT over an outer-tail
    * member or the group (outer repetitions as of the row), over the
    * FINAL closing member of each intermediate level (that level's
    * repetitions as of the row) and over the FINAL inner member (inner
    * sub-sequences as of the row), and — under bound member values —
    * running SUM/COUNT/AVG/MIN/MAX/FIRST/LAST member value measures via
    * the per-row snapshots (FIRST/LAST r19 — the (value, bound)-pair
    * resolution freezes a null first binding correctly). The group must
    * be the final pattern element. */
  private def allRowsNested2(spec: Spec, matches0: DataFrame,
                             g: PatternVar,
                             bindByVar: Map[String, Seq[String]]): DataFrame = {
    // groupKeep order — the lowering's bindGroup call order — indexes the
    // per-row vsum/vcnt running-value snapshots (SHARED derivation)
    val gkIdx: Map[(String, String), Int] =
      nestedKeepOrder(g, bindByVar).zipWithIndex.toMap
    require(spec.vars.last.name == g.name,
      "ALL ROWS over a nested group: the nested group must be the FINAL " +
        "pattern element")
    val pre = spec.vars.init
    pre.foreach(v => require(v.quant.isEmpty && v.alts.isEmpty && v.seq.isEmpty,
      "ALL ROWS over a nested group composes with plain unquantified " +
        s"prefix variables only (got ${v.name})"))
    val mnAliases = spec.measures.filter(_.fn.contains("MATCH_NUMBER")).map(_.alias)
    val matches = if (mnAliases.isEmpty) matches0 else {
      val mnWindow = org.apache.spark.sql.expressions.Window
        .partitionBy(col("key"))
        .orderBy(matches0.columns.filter(_.endsWith("_ts")).map(col).toIndexedSeq: _*)
      mnAliases.foldLeft(matches0)((df, a) =>
        df.withColumn(s"__mn_$a", row_number().over(mnWindow).cast("long")))
    }
    val finalInner = g.inner2Seq.last
    val preIdx: Map[String, Int] = pre.map(_.name).zipWithIndex.toMap
    def isMember(v: String): Boolean =
      v == g.name || g.inner2Seq.contains(v) ||
        g.midSeqs.exists(_.contains(v)) || g.seq.contains(v)
    def measureAt(m: Measure, u: Int, r: Option[Column]): Column =
      if (m.fn.contains("MATCH_NUMBER")) col(s"__mn_${m.alias}")
      else if (m.fn.contains("CLASSIFIER"))
        r.map(_.getField("cls")).getOrElse(lit(pre(u).name))
      else if (isMember(m.varName)) {
        if (m.field != "ts") {
          // running VALUE measures (r15; MIN/MAX r18; FIRST/LAST r19):
          // each materialized row carries per-(member, col) running
          // snapshots AS OF the row — SUM/COUNT/AVG via vsum/vcnt,
          // extremes via vmin/vmax, positional FIRST/LAST via vfst/vlst
          val gi = gkIdx.getOrElse((m.varName, m.field), sys.error(
            s"ALL ROWS nested value measure ${m.varName}.${m.field}: no " +
              "bound value column materialized for it"))
          val sumAt = r.map(rr => element_at(rr.getField("vsum"), gi + 1))
            .getOrElse(lit(null).cast("double"))
          val cntAt = r.map(rr => element_at(rr.getField("vcnt"), gi + 1))
            .getOrElse(lit(0L))
          m.fn match {
            case Some("SUM") => sumAt
            case Some("COUNT") => cntAt
            case Some("AVG") => sumAt / cntAt
            case Some("MIN") =>
              r.map(rr => element_at(rr.getField("vmin"), gi + 1))
                .getOrElse(lit(null).cast("double"))
            case Some("MAX") =>
              r.map(rr => element_at(rr.getField("vmax"), gi + 1))
                .getOrElse(lit(null).cast("double"))
            // running FIRST/LAST (r19, the final per-row value rejection
            // lifted at every depth): the walk's (value, positional bind
            // count) pairs freeze a null first binding correctly
            case Some("FIRST") =>
              r.map(rr => element_at(rr.getField("vfst"), gi + 1))
                .getOrElse(lit(null).cast("double"))
            case Some("LAST") =>
              r.map(rr => element_at(rr.getField("vlst"), gi + 1))
                .getOrElse(lit(null).cast("double"))
            case other => sys.error(s"ALL ROWS over nested group " +
              s"${g.name}: running SUM/COUNT/AVG/MIN/MAX/FIRST/LAST are " +
              "the member VALUE measures — got " +
              s"${other.getOrElse("a bare reference")}" +
              s"(${m.varName}.${m.field})")
          }
        } else {
        require(m.fn.contains("COUNT"),
          s"ALL ROWS over nested group ${g.name}: running COUNT " +
            s"is the only member TIMESTAMP measure (got " +
            s"${m.fn.getOrElse("a bare reference")}(${m.varName}.ts))")
        if (g.inner2Seq.contains(m.varName)) {
          require(m.varName == finalInner,
            s"COUNT(${m.varName}.ts): running inner counts materialize " +
              s"for the FINAL inner member only ($finalInner)")
          r.map(_.getField("subs")).getOrElse(lit(0L))
        } else if (g.midSeqs.exists(_.contains(m.varName))) {
          // each intermediate level's running count rides each row
          // (level 1 keeps the historical `mids` field spelling, deeper
          // levels `mids{l}` — ANY depth since r20)
          val l = g.midSeqs.indexWhere(_.contains(m.varName)) + 1
          require(m.varName == g.midSeqs(l - 1).last,
            s"COUNT(${m.varName}.ts): running level-$l counts " +
              s"materialize for the FINAL member of the level only " +
              s"(${g.midSeqs(l - 1).last})")
          r.map(_.getField(if (l == 1) "mids" else s"mids$l"))
            .getOrElse(lit(0L))
        } else {
          // reps counts COMPLETED outer repetitions — only the FINAL
          // tail's running count equals it on every row
          require(m.varName == g.name || m.varName == g.seq.last,
            s"COUNT(${m.varName}.ts): running outer counts materialize " +
              s"for the FINAL tail member only (${g.seq.last})")
          r.map(_.getField("reps")).getOrElse(lit(0L))
        }
        }
      } else {
        val i = preIdx.getOrElse(m.varName,
          sys.error(s"unknown variable ${m.varName}"))
        require(m.fn.isEmpty || m.fn.contains("FIRST") || m.fn.contains("LAST"),
          s"prefix variable ${m.varName}: bare/FIRST/LAST only (got " +
            s"${m.fn.get})")
        if (i <= u) col(s"${m.varName}_${m.field}")
        else when(lit(false), col(s"${m.varName}_${m.field}"))
      }
    val prefixStructs = pre.zipWithIndex.map { case (v, u) =>
      struct((lit(v.name).as("cls") +: col(s"${v.name}_ts").as("ts") +:
        spec.measures.map(m => measureAt(m, u, None).as(m.alias))): _*)
    }
    val memberRows = transform(col(s"${g.name}_rows"), r =>
      struct((r.getField("cls").as("cls") +: r.getField("ts").as("ts") +:
        spec.measures.map(m => measureAt(m, pre.size, Some(r)).as(m.alias))): _*))
    val rowCols = Seq("cls", "ts") ++ spec.measures.map(_.alias)
    matches
      .select(keyOut(spec) :+
        explode(concat(array(prefixStructs: _*), memberRows)).as("__r"): _*)
      .select(spec.partitionBy.map(col) ++
        rowCols.map(n => col(s"__r.$n").as(n)): _*)
  }

  /** [[allRowsOutput]]'s SEQUENCE-GROUP expansion — ALL ROWS over `(B C)+`
    * (reference flink-table StreamExecMatch row-per-event emission across
    * GroupPattern repetitions, MatchRecognizeITCase ALL-ROWS shapes): static
    * rows explode as usual; the group's member rows expand from the
    * `<g>_reps`/`<g>_repvals` arrays the chain materialized
    * ([[graft.cep.Pattern.materializeGroupRows]]). Because every repetition
    * binds each member exactly ONCE, running measures are CLOSED-FORM in
    * (repetition k, member j) — COUNT(B.ts) as of member j of repetition k
    * is `k + [j >= pos(B)]`, running value aggregates fold a `slice` of the
    * per-repetition value array — so the whole expansion is one projection
    * + explode over the match table: no join, no window, no shuffle. */
  private def allRowsGroup(spec: Spec, matches0: DataFrame,
                           bounds: Map[String, (Int, Int)],
                           g: PatternVar,
                           bindByVar: Map[String, Seq[String]]): DataFrame = {
    val gname = g.name
    val members = g.seq
    val mCount = members.size
    val svIdx: Map[String, Int] = members.zipWithIndex.toMap
    // repvals column order = the bindGroup wiring order of the lowering
    // walk: members in declaration order, each member's bound columns in
    // bindByVar order (Step.groupKeep accumulates exactly this way)
    val gvOrder: Seq[(String, String)] =
      members.flatMap(sv => bindByVar.getOrElse(sv, Nil).map(c => (sv, c)))
    val gvIdx: Map[(String, String), Int] = gvOrder.zipWithIndex.toMap
    val mnAliases = spec.measures.filter(_.fn.contains("MATCH_NUMBER")).map(_.alias)
    val matches = if (mnAliases.isEmpty) matches0 else {
      val mnWindow = org.apache.spark.sql.expressions.Window
        .partitionBy(col("key"))
        .orderBy(matches0.columns.filter(_.endsWith("_ts")).map(col).toIndexedSeq: _*)
      mnAliases.foldLeft(matches0)((df, a) =>
        df.withColumn(s"__mn_$a", row_number().over(mnWindow).cast("long")))
    }
    val units: Seq[(String, Int)] = spec.vars.flatMap { v =>
      if (v.name == gname) Seq((gname, 0))
      else (1 to bounds(v.name)._2).map(i => (v.name, i))
    }
    val groupU = units.indexWhere(_._1 == gname)
    def srcCol(v: String, i: Int, field: String): String =
      if (bounds(v)._2 == 1) s"${v}_$field" else s"${v}_${i}_$field"
    def nullOf(src: String): Column = when(lit(false), col(src))
    val repsC = col(s"${gname}_reps")
    def valsOf(sv: String, c: String): Column =
      transform(col(s"${gname}_repvals"), r => get(r, lit(gvIdx((sv, c)))))
    def isGroupRef(v: String): Boolean = v == gname || svIdx.contains(v)
    val memberNames = array(members.map(lit(_)): _*)

    // final (fully-bound) value of a group-addressed measure — read off the
    // chain columns with the same conventions as the ONE ROW path; member
    // FIRST/LAST timestamps additionally resolve per member via the reps
    // array (the ONE ROW path restricts them to the first/last sub-step)
    def groupFinal(m: Measure, visible: Boolean): Column =
      if (m.field == "ts") {
        val j = svIdx.get(m.varName) // None = the group's own name
        m.fn match {
          case Some("COUNT") =>
            if (!visible) lit(0L)
            else if (j.isEmpty) col(s"${gname}_n")
            else size(repsC).cast("long")
          case Some("FIRST") =>
            if (!visible) lit(null).cast("timestamp")
            else j.fold(col(s"${gname}_first_ts"))(ji =>
              get(get(repsC, lit(0)), lit(ji)))
          case Some("LAST") =>
            if (!visible) lit(null).cast("timestamp")
            else j.fold(col(s"${gname}_last_ts"))(ji =>
              get(get(repsC, size(repsC) - 1), lit(ji)))
          case other => sys.error(s"group $gname: FIRST/LAST/COUNT only " +
            s"over timestamps (got ${other.getOrElse("a bare reference")} " +
            s"on ${m.varName})")
        }
      } else {
        val sfx = s"${m.varName}_${m.field}"
        def c(a: String) = col(s"${gname}_${a}_$sfx")
        m.fn match {
          case Some("SUM") => if (visible) c("sum") else lit(null).cast("double")
          case Some("AVG") => if (visible) c("sum") / c("cnt") else lit(null).cast("double")
          case Some("MIN") => if (visible) c("min") else lit(null).cast("double")
          case Some("MAX") => if (visible) c("max") else lit(null).cast("double")
          case Some("FIRST") => if (visible) c("first") else lit(null).cast("double")
          case Some("LAST") => if (visible) c("last") else lit(null).cast("double")
          case Some("COUNT") => if (visible) c("cnt") else lit(0L)
          case other => sys.error(s"group member ${m.varName}: use " +
            s"SUM/AVG/MIN/MAX/FIRST/LAST/COUNT (got " +
            s"${other.getOrElse("a bare reference")})")
        }
      }

    // running value of a STATIC variable's measure with units <= u visible
    // (the allRowsOutput runningAt logic, parameterized by the unit limit)
    def staticMeasure(m: Measure, u: Int): Column = {
      val (_, mx) = bounds.getOrElse(m.varName,
        sys.error(s"unknown variable ${m.varName}"))
      val visible = (1 to mx).filter(i => units.indexOf((m.varName, i)) <= u)
      val srcs = visible.map(i => srcCol(m.varName, i, m.field))
      val first = srcCol(m.varName, 1, m.field)
      m.fn match {
        case None =>
          require(mx == 1, s"${m.varName} is quantified — use FIRST/LAST/SUM/COUNT")
          if (visible.nonEmpty) col(srcs.head) else nullOf(first)
        case Some("FIRST") => if (visible.nonEmpty) col(srcs.head) else nullOf(first)
        case Some("LAST") =>
          if (visible.isEmpty) nullOf(first) else coalesce(srcs.reverse.map(col): _*)
        case Some("SUM") =>
          if (visible.isEmpty) nullOf(first)
          else srcs.map(col).reduce((a, b) => a + coalesce(b, lit(0)))
        case Some("AVG") =>
          if (visible.isEmpty) nullOf(first)
          else srcs.map(col).reduce((a, b) => a + coalesce(b, lit(0))) /
            srcs.map(s => when(col(s).isNotNull, 1L).otherwise(0L)).reduce(_ + _)
        case Some("MIN") =>
          if (visible.isEmpty) nullOf(first)
          else if (srcs.size == 1) col(srcs.head) else least(srcs.map(col): _*)
        case Some("MAX") =>
          if (visible.isEmpty) nullOf(first)
          else if (srcs.size == 1) col(srcs.head) else greatest(srcs.map(col): _*)
        case Some("COUNT") =>
          if (visible.isEmpty) lit(0L)
          else srcs.map(s => when(col(s).isNotNull, 1L).otherwise(0L)).reduce(_ + _)
        case Some(f) => sys.error(s"unsupported measure function $f")
      }
    }

    def staticRowMeasure(m: Measure, vn: String, u: Int): Column =
      if (m.fn.contains("MATCH_NUMBER")) col(s"__mn_${m.alias}")
      else if (m.fn.contains("CLASSIFIER")) lit(vn)
      else if (isGroupRef(m.varName)) groupFinal(m, visible = u > groupU)
      else staticMeasure(m, u)

    // running measure on MEMBER row (repetition k, member j, its own rep
    // array and bound timestamp t) — RUNNING semantics as of this row
    def memberMeasure(m: Measure, k: Column, j: Column,
                      rep: Column, t: Column): Column = {
      if (m.fn.contains("MATCH_NUMBER")) return col(s"__mn_${m.alias}")
      if (m.fn.contains("CLASSIFIER")) return get(memberNames, j)
      if (!isGroupRef(m.varName)) return staticMeasure(m, groupU)
      if (m.field == "ts") {
        svIdx.get(m.varName) match {
          case None => m.fn match { // the group's own timestamps
            case Some("FIRST") => col(s"${gname}_first_ts")
            case Some("LAST") => t // this row IS the group's latest binding
            case Some("COUNT") => // completed repetitions as of this row
              (k + when(j === lit(mCount - 1), 1).otherwise(0)).cast("long")
            case other => sys.error(s"group $gname: FIRST/LAST/COUNT only " +
              s"over timestamps (got ${other.getOrElse("a bare reference")})")
          }
          case Some(ji) =>
            // occurrences of this member bound so far: one per completed
            // repetition, plus this repetition's iff already reached
            val c = k + when(j >= lit(ji), 1).otherwise(0)
            m.fn match {
              case Some("COUNT") => c.cast("long")
              case Some("FIRST") =>
                when(c > 0, get(get(repsC, lit(0)), lit(ji)))
              case Some("LAST") =>
                when(j >= lit(ji), get(rep, lit(ji)))
                  .otherwise(when(k > 0, get(get(repsC, k - 1), lit(ji))))
              case other => sys.error(s"member ${m.varName}: FIRST/LAST/" +
                s"COUNT only over timestamps (got " +
                s"${other.getOrElse("a bare reference")})")
            }
        }
      } else {
        val ji = svIdx(m.varName)
        val vals = valsOf(m.varName, m.field)
        val c = k + when(j >= lit(ji), 1).otherwise(0)
        val nn = filter(slice(vals, lit(1), c), x => x.isNotNull)
        def total = aggregate(nn, lit(0.0), (a, x) => a + x)
        m.fn match {
          case Some("SUM") => when(size(nn) > 0, total)
          case Some("AVG") => when(size(nn) > 0, total / size(nn))
          case Some("MIN") => array_min(nn)
          case Some("MAX") => array_max(nn)
          case Some("FIRST") => when(c > 0, get(vals, lit(0)))
          case Some("LAST") => when(c > 0, get(vals, c - 1))
          case Some("COUNT") => size(nn).cast("long")
          case other => sys.error(s"group member ${m.varName}: use " +
            s"SUM/AVG/MIN/MAX/FIRST/LAST/COUNT (got " +
            s"${other.getOrElse("a bare reference")})")
        }
      }
    }

    val memberRows: Column = flatten(transform(repsC, (rep, k) =>
      transform(rep, (t, j) =>
        struct((get(memberNames, j).as("cls") +: t.as("ts") +:
          spec.measures.map(m => memberMeasure(m, k, j, rep, t).as(m.alias))): _*))))
    val staticStructs = units.zipWithIndex.filter(_._1._1 != gname).map {
      case ((vn, i), u) =>
        struct((lit(vn).as("cls") +: col(srcCol(vn, i, "ts")).as("ts") +:
          spec.measures.map(m => staticRowMeasure(m, vn, u).as(m.alias))): _*)
    }
    val rowCols = Seq("cls", "ts") ++ spec.measures.map(_.alias)
    matches
      .select(keyOut(spec) :+
        explode(concat(array(staticStructs: _*), memberRows)).as("__r"): _*)
      .filter(col("__r.ts").isNotNull) // skipped optional expansions
      .select(spec.partitionBy.map(col) ++
        rowCols.map(n => col(s"__r.$n").as(n)): _*)
  }

  /** [[allRowsOutput]]'s MIXED expansion — ALL ROWS with one sequence
    * group AND plain '+'/'*' runs in the same pattern (`(S (B C)+ V+ P)`,
    * the last ALL-ROWS shape the reference emits): static rows and GROUP
    * member rows ride the [[allRowsGroup]] explode (repetition arrays,
    * closed-form running measures, no join); each RUN's member rows come
    * from the [[allRowsRun]] keyed join-back with one running window per
    * run. The pattern is sequential, so every cross-shape measure is
    * closed-form — on group member rows a later run's aggregates are
    * empty, on run member rows the group's aggregates are FINAL (read off
    * the match table's group columns), and vice versa by unit order.
    * Shuffles: the match itself + one keyed member join per run — same
    * plan family as the pure-run path. */
  private def allRowsGroupRun(spec: Spec, matches0: DataFrame,
                              bounds: Map[String, (Int, Int)],
                              events: DataFrame, keyCol: Column,
                              selfRuns: Map[String, RunDef],
                              compiled: Map[String, (Column, Option[Column], Seq[(String, String)])],
                              bindByVar: Map[String, Seq[String]],
                              g: PatternVar, runs: Seq[PatternVar]): DataFrame = {
    val gname = g.name
    val members = g.seq
    val mCount = members.size
    val svIdx: Map[String, Int] = members.zipWithIndex.toMap
    val gvOrder: Seq[(String, String)] =
      members.flatMap(sv => bindByVar.getOrElse(sv, Nil).map(c => (sv, c)))
    val gvIdx: Map[(String, String), Int] = gvOrder.zipWithIndex.toMap
    val runNames: Set[String] = runs.map(_.name).toSet
    val runByName: Map[String, PatternVar] = runs.map(v => v.name -> v).toMap
    val branchRun: Map[String, String] =
      runs.flatMap(v => v.alts.map(_ -> v.name)).toMap
    val mnAliases = spec.measures.filter(_.fn.contains("MATCH_NUMBER")).map(_.alias)
    val withMn = if (mnAliases.isEmpty) matches0 else {
      val mnWindow = org.apache.spark.sql.expressions.Window
        .partitionBy(col("key"))
        .orderBy(matches0.columns.filter(_.endsWith("_ts")).map(col).toIndexedSeq: _*)
      mnAliases.foldLeft(matches0)((df, a) =>
        df.withColumn(s"__mn_$a", row_number().over(mnWindow).cast("long")))
    }
    val matches = withMn.withColumn("__mid", monotonically_increasing_id())
    // linear unit list: the group and each run are one unit, static
    // variables one unit per expansion — visibility is unit order
    val units: Seq[(String, Int)] = spec.vars.flatMap { v =>
      if (v.name == gname || runNames(v.name)) Seq((v.name, 0))
      else (1 to bounds(v.name)._2).map(i => (v.name, i))
    }
    val groupU = units.indexWhere(_._1 == gname)
    val runU: Map[String, Int] =
      runs.map(v => v.name -> units.indexWhere(_._1 == v.name)).toMap
    def srcCol(v: String, i: Int, field: String): String =
      if (bounds(v)._2 == 1) s"${v}_$field" else s"${v}_${i}_$field"
    def nullOf(src: String): Column = when(lit(false), col(src))
    val repsC = col(s"${gname}_reps")
    def valsOf(sv: String, c: String): Column =
      transform(col(s"${gname}_repvals"), r => get(r, lit(gvIdx((sv, c)))))
    def isGroupRef(v: String): Boolean = v == gname || svIdx.contains(v)
    val memberNames = array(members.map(lit(_)): _*)

    // final group-addressed measure (the allRowsGroup convention)
    def groupFinal(m: Measure, visible: Boolean): Column =
      if (m.field == "ts") {
        val j = svIdx.get(m.varName)
        m.fn match {
          case Some("COUNT") =>
            if (!visible) lit(0L)
            else if (j.isEmpty) col(s"${gname}_n")
            else size(repsC).cast("long")
          case Some("FIRST") =>
            if (!visible) lit(null).cast("timestamp")
            else j.fold(col(s"${gname}_first_ts"))(ji =>
              get(get(repsC, lit(0)), lit(ji)))
          case Some("LAST") =>
            if (!visible) lit(null).cast("timestamp")
            else j.fold(col(s"${gname}_last_ts"))(ji =>
              get(get(repsC, size(repsC) - 1), lit(ji)))
          case other => sys.error(s"group $gname: FIRST/LAST/COUNT only " +
            s"over timestamps (got ${other.getOrElse("a bare reference")} " +
            s"on ${m.varName})")
        }
      } else {
        val sfx = s"${m.varName}_${m.field}"
        def c(a: String) = col(s"${gname}_${a}_$sfx")
        m.fn match {
          case Some("SUM") => if (visible) c("sum") else lit(null).cast("double")
          case Some("AVG") => if (visible) c("sum") / c("cnt") else lit(null).cast("double")
          case Some("MIN") => if (visible) c("min") else lit(null).cast("double")
          case Some("MAX") => if (visible) c("max") else lit(null).cast("double")
          case Some("FIRST") => if (visible) c("first") else lit(null).cast("double")
          case Some("LAST") => if (visible) c("last") else lit(null).cast("double")
          case Some("COUNT") => if (visible) c("cnt") else lit(0L)
          case other => sys.error(s"group member ${m.varName}: use " +
            s"SUM/AVG/MIN/MAX/FIRST/LAST/COUNT (got " +
            s"${other.getOrElse("a bare reference")})")
        }
      }

    // final-or-empty run aggregate (the allRowsRun convention)
    def runAggCol(rv: String, m: Measure, visible: Boolean): Column =
      if (m.field == "ts") m.fn match {
        case Some("FIRST") => if (visible) col(s"${rv}_first_ts") else nullOf(s"${rv}_first_ts")
        case Some("LAST") => if (visible) col(s"${rv}_last_ts") else nullOf(s"${rv}_last_ts")
        case Some("COUNT") => if (visible) col(s"${rv}_n") else lit(0L)
        case other => sys.error(s"only FIRST/LAST/COUNT over run variable " +
          s"$rv's timestamps (got ${other.getOrElse("a bare reference")})")
      } else m.fn match {
        case Some("SUM") => if (visible) col(s"${rv}_sum_${m.field}") else nullOf(s"${rv}_sum_${m.field}")
        case Some("AVG") =>
          if (visible) col(s"${rv}_sum_${m.field}") / col(s"${rv}_n")
          else nullOf(s"${rv}_sum_${m.field}")
        case Some("MIN") => if (visible) col(s"${rv}_min_${m.field}") else nullOf(s"${rv}_min_${m.field}")
        case Some("MAX") => if (visible) col(s"${rv}_max_${m.field}") else nullOf(s"${rv}_max_${m.field}")
        case Some("FIRST") => if (visible) col(s"${rv}_first_${m.field}") else nullOf(s"${rv}_first_${m.field}")
        case Some("LAST") => if (visible) col(s"${rv}_last_${m.field}") else nullOf(s"${rv}_last_${m.field}")
        case Some("COUNT") => if (visible) col(s"${rv}_n") else lit(0L)
        case other => sys.error(s"$rv is a run variable — use " +
          s"FIRST/LAST/SUM/COUNT/MIN/MAX/AVG (got ${other.getOrElse("a bare reference")})")
      }

    // running value of a STATIC variable's measure with units <= u visible
    def staticMeasure(m: Measure, u: Int): Column = {
      val (_, mx) = bounds.getOrElse(m.varName,
        sys.error(s"unknown variable ${m.varName}"))
      val visible = (1 to mx).filter(i => units.indexOf((m.varName, i)) <= u)
      val srcs = visible.map(i => srcCol(m.varName, i, m.field))
      val first = srcCol(m.varName, 1, m.field)
      m.fn match {
        case None =>
          require(mx == 1, s"${m.varName} is quantified — use FIRST/LAST/SUM/COUNT")
          if (visible.nonEmpty) col(srcs.head) else nullOf(first)
        case Some("FIRST") => if (visible.nonEmpty) col(srcs.head) else nullOf(first)
        case Some("LAST") =>
          if (visible.isEmpty) nullOf(first) else coalesce(srcs.reverse.map(col): _*)
        case Some("SUM") =>
          if (visible.isEmpty) nullOf(first)
          else srcs.map(col).reduce((a, b) => a + coalesce(b, lit(0)))
        case Some("AVG") =>
          if (visible.isEmpty) nullOf(first)
          else srcs.map(col).reduce((a, b) => a + coalesce(b, lit(0))) /
            srcs.map(s => when(col(s).isNotNull, 1L).otherwise(0L)).reduce(_ + _)
        case Some("MIN") =>
          if (visible.isEmpty) nullOf(first)
          else if (srcs.size == 1) col(srcs.head) else least(srcs.map(col): _*)
        case Some("MAX") =>
          if (visible.isEmpty) nullOf(first)
          else if (srcs.size == 1) col(srcs.head) else greatest(srcs.map(col): _*)
        case Some("COUNT") =>
          if (visible.isEmpty) lit(0L)
          else srcs.map(s => when(col(s).isNotNull, 1L).otherwise(0L)).reduce(_ + _)
        case Some(f) => sys.error(s"unsupported measure function $f")
      }
    }

    def staticRowMeasure(m: Measure, vn: String, u: Int): Column =
      if (m.fn.contains("MATCH_NUMBER")) col(s"__mn_${m.alias}")
      else if (m.fn.contains("CLASSIFIER")) lit(vn)
      else if (branchRun.contains(m.varName)) {
        val rv = branchRun(m.varName)
        require(m.field == "ts" && m.fn.contains("COUNT"),
          s"branch ${m.varName} of quantified alternation $rv: " +
            s"COUNT(${m.varName}.ts) is the only branch measure")
        if (runU(rv) < u) col(s"${rv}_n_${m.varName}") else lit(0L)
      }
      else if (isGroupRef(m.varName)) groupFinal(m, visible = u > groupU)
      else if (runNames(m.varName))
        runAggCol(m.varName, m, visible = runU(m.varName) < u)
      else staticMeasure(m, u)

    // running measure on a GROUP member row (the allRowsGroup convention,
    // plus closed-form run visibility: a run binds strictly after the
    // group closes, so its aggregates are empty here iff it is later)
    def gMemberMeasure(m: Measure, k: Column, j: Column,
                       rep: Column, t: Column): Column = {
      if (m.fn.contains("MATCH_NUMBER")) return col(s"__mn_${m.alias}")
      if (m.fn.contains("CLASSIFIER")) return get(memberNames, j)
      if (branchRun.contains(m.varName)) {
        val rv = branchRun(m.varName)
        require(m.field == "ts" && m.fn.contains("COUNT"),
          s"branch ${m.varName} of quantified alternation $rv: " +
            s"COUNT(${m.varName}.ts) is the only branch measure")
        return if (runU(rv) < groupU) col(s"${rv}_n_${m.varName}") else lit(0L)
      }
      if (runNames(m.varName))
        return runAggCol(m.varName, m, visible = runU(m.varName) < groupU)
      if (!isGroupRef(m.varName)) return staticMeasure(m, groupU)
      if (m.field == "ts") {
        svIdx.get(m.varName) match {
          case None => m.fn match {
            case Some("FIRST") => col(s"${gname}_first_ts")
            case Some("LAST") => t
            case Some("COUNT") =>
              (k + when(j === lit(mCount - 1), 1).otherwise(0)).cast("long")
            case other => sys.error(s"group $gname: FIRST/LAST/COUNT only " +
              s"over timestamps (got ${other.getOrElse("a bare reference")})")
          }
          case Some(ji) =>
            val c = k + when(j >= lit(ji), 1).otherwise(0)
            m.fn match {
              case Some("COUNT") => c.cast("long")
              case Some("FIRST") =>
                when(c > 0, get(get(repsC, lit(0)), lit(ji)))
              case Some("LAST") =>
                when(j >= lit(ji), get(rep, lit(ji)))
                  .otherwise(when(k > 0, get(get(repsC, k - 1), lit(ji))))
              case other => sys.error(s"member ${m.varName}: FIRST/LAST/" +
                s"COUNT only over timestamps (got " +
                s"${other.getOrElse("a bare reference")})")
            }
        }
      } else {
        val ji = svIdx(m.varName)
        val vals = valsOf(m.varName, m.field)
        val c = k + when(j >= lit(ji), 1).otherwise(0)
        val nn = filter(slice(vals, lit(1), c), x => x.isNotNull)
        def total = aggregate(nn, lit(0.0), (a, x) => a + x)
        m.fn match {
          case Some("SUM") => when(size(nn) > 0, total)
          case Some("AVG") => when(size(nn) > 0, total / size(nn))
          case Some("MIN") => array_min(nn)
          case Some("MAX") => array_max(nn)
          case Some("FIRST") => when(c > 0, get(vals, lit(0)))
          case Some("LAST") => when(c > 0, get(vals, c - 1))
          case Some("COUNT") => size(nn).cast("long")
          case other => sys.error(s"group member ${m.varName}: use " +
            s"SUM/AVG/MIN/MAX/FIRST/LAST/COUNT (got " +
            s"${other.getOrElse("a bare reference")})")
        }
      }
    }

    val memberRows: Column = flatten(transform(repsC, (rep, k) =>
      transform(rep, (t, j) =>
        struct((get(memberNames, j).as("cls") +: t.as("ts") +:
          spec.measures.map(m => gMemberMeasure(m, k, j, rep, t).as(m.alias))): _*))))
    val staticStructs = units.zipWithIndex
      .filter { case ((vn, _), _) => vn != gname && !runNames(vn) }
      .map { case ((vn, i), u) =>
        struct((lit(vn).as("cls") +: col(srcCol(vn, i, "ts")).as("ts") +:
          spec.measures.map(m => staticRowMeasure(m, vn, u).as(m.alias))): _*)
      }
    val rowCols = Seq("cls", "ts") ++ spec.measures.map(_.alias)
    val staticDf = matches
      .select(keyOut(spec) :+
        explode(concat(array(staticStructs: _*), memberRows)).as("__r"): _*)
      .filter(col("__r.ts").isNotNull)
      .select(spec.partitionBy.map(col) ++
        rowCols.map(n => col(s"__r.$n").as(n)): _*)

    // one member frame per run: the allRowsRun join-back, with group
    // aggregates FINAL when the group bound earlier (always, here)
    val memberDfs = runs.map { r =>
      val rn = r.name
      val runPre: Column =
        if (r.alts.nonEmpty) r.alts.map(b => compiled(b)._1).reduce(_ || _)
        else if (selfRuns.contains(rn)) selfRuns(rn).pre else compiled(rn)._1
      val memClsCols =
        if (r.alts.isEmpty) Nil
        else Seq(r.alts.tail.foldLeft(
            when(compiled(r.alts.head)._1, lit(r.alts.head))) {
          case (acc, b) => acc.when(compiled(b)._1, lit(b))
        }.as("__mcls"))
      val valFields = spec.measures
        .filter(m => m.varName == rn && m.field != "ts").map(_.field).distinct
      val memEv = events.filter(runPre).select(
        (keyCol.as("__mk") +: col(spec.orderBy).as("__mts") +:
          (valFields.map(f => col(f).as(s"__mf_$f")) ++ memClsCols)): _*)
      val mjoin = matches.join(memEv, col("key") === col("__mk") &&
        col("__mts") >= col(s"${rn}_first_ts") &&
        col("__mts") <= col(s"${rn}_last_ts"))
      // RUNNING measures must be deterministic when two members share one
      // timestamp: pin the full lexicographic member order (ts, classifier,
      // value fields) — the m20/m25 tiebreak convention — instead of ts
      // alone, which would leave equal-ts running counts/sums
      // partition-order-dependent
      val memTieCols: Seq[Column] =
        memClsCols.map(_ => col("__mcls")) ++ valFields.map(f => col(s"__mf_$f"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__mid")).orderBy((col("__mts") +: memTieCols): _*)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      def runMemberMeasure(m: Measure): Column = {
        if (m.fn.contains("MATCH_NUMBER")) return col(s"__mn_${m.alias}")
        if (m.fn.contains("CLASSIFIER"))
          return if (r.alts.isEmpty) lit(rn) else col("__mcls")
        if (branchRun.contains(m.varName)) {
          val rv = branchRun(m.varName)
          require(m.field == "ts" && m.fn.contains("COUNT"),
            s"branch ${m.varName} of quantified alternation $rv: " +
              s"COUNT(${m.varName}.ts) is the only branch measure")
          return if (rv == rn)
            sum(when(col("__mcls") === m.varName, 1L).otherwise(0L)).over(w)
          else if (runU(rv) < runU(rn)) col(s"${rv}_n_${m.varName}")
          else lit(0L)
        }
        if (isGroupRef(m.varName))
          return groupFinal(m, visible = groupU < runU(rn))
        if (runNames(m.varName) && m.varName != rn)
          return runAggCol(m.varName, m, visible = runU(m.varName) < runU(rn))
        if (m.varName != rn) return staticMeasure(m, runU(rn))
        if (m.field == "ts") m.fn match {
          case Some("FIRST") => col(s"${rn}_first_ts")
          case Some("LAST") => col("__mts")
          case Some("COUNT") => count(lit(1)).over(w)
          case other => sys.error(s"only FIRST/LAST/COUNT over run variable " +
            s"$rn's timestamps (got ${other.getOrElse("a bare reference")})")
        } else m.fn match {
          case Some("SUM") => sum(col(s"__mf_${m.field}")).over(w)
          case Some("AVG") => sum(col(s"__mf_${m.field}")).over(w) / count(lit(1)).over(w)
          case Some("MIN") => min(col(s"__mf_${m.field}")).over(w)
          case Some("MAX") => max(col(s"__mf_${m.field}")).over(w)
          case Some("FIRST") => first(col(s"__mf_${m.field}")).over(w)
          case Some("LAST") => col(s"__mf_${m.field}")
          case Some("COUNT") => count(lit(1)).over(w)
          case other => sys.error(s"$rn is a run variable — use " +
            s"FIRST/LAST/SUM/COUNT/MIN/MAX/AVG (got ${other.getOrElse("a bare reference")})")
        }
      }
      val clsOut: Column = if (r.alts.isEmpty) lit(rn) else col("__mcls")
      mjoin.select(keyOut(spec) ++
        (clsOut.as("cls") +: col("__mts").as("ts") +:
          spec.measures.map(m => runMemberMeasure(m).as(m.alias))): _*)
    }
    memberDfs.foldLeft(staticDf)(_ unionByName _)
  }

  /** [[allRowsOutput]]'s run expansion — ALL ROWS with one or MORE
    * '+'/'*' run variables: static rows explode as usual; each run's
    * MEMBER rows come from one keyed equi-join of the match table back
    * onto that run's candidates over [first_ts, last_ts] (runs are
    * contiguous candidate segments, so the span's pred-candidates ARE the
    * members — the same argument that makes the lag segmentation correct),
    * with running measures as one window over each match's members.
    * Because a later run binds strictly after the previous run's last
    * member, run spans never overlap: on run k's member rows an EARLIER
    * run's aggregates are final and a LATER run's are empty/null —
    * closed-form, no cross-run window. Quantified ALTERNATION runs expand
    * the same way with a per-member CLASSIFIER and running per-branch
    * counts. Shuffles: one keyed member join per run; the running windows
    * partition on the match id — no global sort. */
  private def allRowsRun(spec: Spec, matches0: DataFrame,
                         bounds: Map[String, (Int, Int)],
                         events: DataFrame, keyCol: Column,
                         selfRuns: Map[String, RunDef],
                         compiled: Map[String, (Column, Option[Column], Seq[(String, String)])],
                         runs: Seq[PatternVar]): DataFrame = {
    val runNames: Set[String] = runs.map(_.name).toSet
    val runByName: Map[String, PatternVar] = runs.map(v => v.name -> v).toMap
    val mnAliases = spec.measures.filter(_.fn.contains("MATCH_NUMBER")).map(_.alias)
    val withMn = if (mnAliases.isEmpty) matches0 else {
      val mnWindow = org.apache.spark.sql.expressions.Window
        .partitionBy(col("key"))
        .orderBy(matches0.columns.filter(_.endsWith("_ts")).map(col).toIndexedSeq: _*)
      mnAliases.foldLeft(matches0)((df, a) =>
        df.withColumn(s"__mn_$a", row_number().over(mnWindow).cast("long")))
    }
    val matches = withMn.withColumn("__mid", monotonically_increasing_id())
    def srcCol(v: String, i: Int, field: String): String =
      if (bounds(v)._2 == 1) s"${v}_$field" else s"${v}_${i}_$field"
    def nullOf(src: String): Column = when(lit(false), col(src))
    // linear unit list: one unit per static expansion, each run one block
    val units: Seq[(String, Int)] = spec.vars.flatMap { v =>
      if (runNames(v.name)) Seq((v.name, 0))
      else (1 to bounds(v.name)._2).map(i => (v.name, i))
    }
    val runU: Map[String, Int] =
      runs.map(v => v.name -> units.indexWhere(_._1 == v.name)).toMap
    def runAggCol(rv: String, m: Measure, visible: Boolean): Column =
      if (m.field == "ts") m.fn match {
        case Some("FIRST") => if (visible) col(s"${rv}_first_ts") else nullOf(s"${rv}_first_ts")
        case Some("LAST") => if (visible) col(s"${rv}_last_ts") else nullOf(s"${rv}_last_ts")
        case Some("COUNT") => if (visible) col(s"${rv}_n") else lit(0L)
        case other => sys.error(s"only FIRST/LAST/COUNT over run variable " +
          s"$rv's timestamps (got ${other.getOrElse("a bare reference")})")
      } else m.fn match {
        case Some("SUM") => if (visible) col(s"${rv}_sum_${m.field}") else nullOf(s"${rv}_sum_${m.field}")
        case Some("AVG") =>
          if (visible) col(s"${rv}_sum_${m.field}") / col(s"${rv}_n")
          else nullOf(s"${rv}_sum_${m.field}")
        case Some("MIN") => if (visible) col(s"${rv}_min_${m.field}") else nullOf(s"${rv}_min_${m.field}")
        case Some("MAX") => if (visible) col(s"${rv}_max_${m.field}") else nullOf(s"${rv}_max_${m.field}")
        case Some("FIRST") => if (visible) col(s"${rv}_first_${m.field}") else nullOf(s"${rv}_first_${m.field}")
        case Some("LAST") => if (visible) col(s"${rv}_last_${m.field}") else nullOf(s"${rv}_last_${m.field}")
        case Some("COUNT") => if (visible) col(s"${rv}_n") else lit(0L)
        case other => sys.error(s"$rv is a run variable — use " +
          s"FIRST/LAST/SUM/COUNT/MIN/MAX/AVG (got ${other.getOrElse("a bare reference")})")
      }
    // branch of a quantified ALTERNATION run: COUNT over the branch's
    // members (the ONE-ROW `<run>_n_<branch>` convention) — running on its
    // own run's member rows, final after the run, 0 before it binds
    val branchRun: Map[String, String] =
      runs.flatMap(v => v.alts.map(_ -> v.name)).toMap
    // measure value at static unit u (RUNNING: includes the unit itself)
    def measureAt(m: Measure, u: Int): Column = {
      if (m.fn.contains("MATCH_NUMBER")) return col(s"__mn_${m.alias}")
      if (m.fn.contains("CLASSIFIER")) return lit(units(u)._1)
      branchRun.get(m.varName).foreach { rv =>
        require(m.field == "ts" && m.fn.contains("COUNT"),
          s"branch ${m.varName} of quantified alternation $rv: " +
            s"COUNT(${m.varName}.ts) is the only branch measure")
        return if (runU(rv) < u) col(s"${rv}_n_${m.varName}") else lit(0L)
      }
      if (runNames(m.varName))
        return runAggCol(m.varName, m, visible = runU(m.varName) < u)
      val (_, mx) = bounds.getOrElse(m.varName, sys.error(s"unknown variable ${m.varName}"))
      val visible = (1 to mx).filter(i => units.indexOf((m.varName, i)) <= u)
      val srcs = visible.map(i => srcCol(m.varName, i, m.field))
      val first = srcCol(m.varName, 1, m.field)
      m.fn match {
        case None =>
          require(mx == 1, s"${m.varName} is quantified — use FIRST/LAST/SUM/COUNT")
          if (visible.nonEmpty) col(srcs.head) else nullOf(first)
        case Some("FIRST") => if (visible.nonEmpty) col(srcs.head) else nullOf(first)
        case Some("LAST") =>
          if (visible.isEmpty) nullOf(first) else coalesce(srcs.reverse.map(col): _*)
        case Some("SUM") =>
          if (visible.isEmpty) nullOf(first)
          else srcs.map(col).reduce((a, b) => a + coalesce(b, lit(0)))
        case Some("AVG") =>
          if (visible.isEmpty) nullOf(first)
          else srcs.map(col).reduce((a, b) => a + coalesce(b, lit(0))) /
            srcs.map(s => when(col(s).isNotNull, 1L).otherwise(0L)).reduce(_ + _)
        case Some("MIN") =>
          if (visible.isEmpty) nullOf(first)
          else if (srcs.size == 1) col(srcs.head) else least(srcs.map(col): _*)
        case Some("MAX") =>
          if (visible.isEmpty) nullOf(first)
          else if (srcs.size == 1) col(srcs.head) else greatest(srcs.map(col): _*)
        case Some("COUNT") =>
          if (visible.isEmpty) lit(0L)
          else srcs.map(s => when(col(s).isNotNull, 1L).otherwise(0L)).reduce(_ + _)
        case Some(f) => sys.error(s"unsupported measure function $f")
      }
    }
    val rowCols = Seq("cls", "ts") ++ spec.measures.map(_.alias)
    val structs = units.zipWithIndex.filterNot(p => runNames(p._1._1)).map {
      case ((vn, i), u) =>
        struct((lit(vn).as("cls") +: col(srcCol(vn, i, "ts")).as("ts") +:
          spec.measures.map(m => measureAt(m, u).as(m.alias))): _*)
    }
    val staticDf = matches
      .select(keyOut(spec) :+ explode(array(structs: _*)).as("__r"): _*)
      .filter(col("__r.ts").isNotNull)
      .select(spec.partitionBy.map(col) ++ rowCols.map(n => col(s"__r.$n").as(n)): _*)
    // one member frame per run: candidates of that run's pre-filter over
    // its bound span (spans never overlap — a later run binds strictly
    // after the previous run's last member)
    val memberDfs = runs.map { r =>
      val rn = r.name
      val runPre: Column =
        if (r.alts.nonEmpty) r.alts.map(b => compiled(b)._1).reduce(_ || _)
        else if (selfRuns.contains(rn)) selfRuns(rn).pre else compiled(rn)._1
      val memClsCols =
        if (r.alts.isEmpty) Nil
        else Seq(r.alts.tail.foldLeft(
            when(compiled(r.alts.head)._1, lit(r.alts.head))) {
          case (acc, b) => acc.when(compiled(b)._1, lit(b))
        }.as("__mcls"))
      val valFields = spec.measures
        .filter(m => m.varName == rn && m.field != "ts").map(_.field).distinct
      val memEv = events.filter(runPre).select(
        (keyCol.as("__mk") +: col(spec.orderBy).as("__mts") +:
          (valFields.map(f => col(f).as(s"__mf_$f")) ++ memClsCols)): _*)
      val mjoin = matches.join(memEv, col("key") === col("__mk") &&
        col("__mts") >= col(s"${rn}_first_ts") &&
        col("__mts") <= col(s"${rn}_last_ts"))
      // RUNNING measures must be deterministic when two members share one
      // timestamp: pin the full lexicographic member order (ts, classifier,
      // value fields) — the m20/m25 tiebreak convention — instead of ts
      // alone, which would leave equal-ts running counts/sums
      // partition-order-dependent
      val memTieCols: Seq[Column] =
        memClsCols.map(_ => col("__mcls")) ++ valFields.map(f => col(s"__mf_$f"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__mid")).orderBy((col("__mts") +: memTieCols): _*)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      def memberMeasure(m: Measure): Column = {
        if (m.fn.contains("MATCH_NUMBER")) return col(s"__mn_${m.alias}")
        if (m.fn.contains("CLASSIFIER"))
          return if (r.alts.isEmpty) lit(rn) else col("__mcls")
        branchRun.get(m.varName).foreach { rv =>
          require(m.field == "ts" && m.fn.contains("COUNT"),
            s"branch ${m.varName} of quantified alternation $rv: " +
              s"COUNT(${m.varName}.ts) is the only branch measure")
          return if (rv == rn)
            sum(when(col("__mcls") === m.varName, 1L).otherwise(0L)).over(w)
          else if (runU(rv) < runU(rn)) col(s"${rv}_n_${m.varName}")
          else lit(0L)
        }
        // another run's aggregates: final if it bound earlier, empty after
        if (runNames(m.varName) && m.varName != rn)
          return runAggCol(m.varName, m, visible = runU(m.varName) < runU(rn))
        if (m.varName != rn) return measureAt(m, runU(rn))
        if (m.field == "ts") m.fn match {
          case Some("FIRST") => col(s"${rn}_first_ts")
          case Some("LAST") => col("__mts") // running last = this member
          case Some("COUNT") => count(lit(1)).over(w)
          case other => sys.error(s"only FIRST/LAST/COUNT over run variable " +
            s"$rn's timestamps (got ${other.getOrElse("a bare reference")})")
        } else m.fn match {
          case Some("SUM") => sum(col(s"__mf_${m.field}")).over(w)
          case Some("AVG") => sum(col(s"__mf_${m.field}")).over(w) / count(lit(1)).over(w)
          case Some("MIN") => min(col(s"__mf_${m.field}")).over(w)
          case Some("MAX") => max(col(s"__mf_${m.field}")).over(w)
          case Some("FIRST") => first(col(s"__mf_${m.field}")).over(w)
          case Some("LAST") => col(s"__mf_${m.field}")
          case Some("COUNT") => count(lit(1)).over(w)
          case other => sys.error(s"$rn is a run variable — use " +
            s"FIRST/LAST/SUM/COUNT/MIN/MAX/AVG (got ${other.getOrElse("a bare reference")})")
        }
      }
      val clsOut: Column = if (r.alts.isEmpty) lit(rn) else col("__mcls")
      mjoin.select(keyOut(spec) ++
        (clsOut.as("cls") +: col("__mts").as("ts") +:
          spec.measures.map(m => memberMeasure(m).as(m.alias))): _*)
    }
    memberDfs.foldLeft(staticDf)(_ unionByName _)
  }

  /** The partition columns of the output: detect's single `key` column,
    * re-expanded under the user's names for composite partition keys. */
  private def keyOut(spec: Spec): Seq[Column] =
    if (spec.partitionBy.size == 1) Seq(col("key").as(spec.partitionBy.head))
    else spec.partitionBy.map(c => col(s"key.$c").as(c))

  // =========================================================================
  // STREAMING MATCH_RECOGNIZE (r19). In the reference the clause IS a
  // streaming operator (flink-table-planner-blink/.../physical/stream/
  // StreamExecMatch.scala plans it onto the flink-cep NFA over a DataStream;
  // 1.10 has no batch Match exec) — so the same SQL text must run over an
  // unbounded frame. The lowering routes the parsed Spec onto the
  // StreamOps.cepPattern* twins by PATTERN shape:
  //
  //   linear (plain / '?' / '{n}' / '{n,m}' / unquantified alternation;
  //   relative DEFINEs, value measures and AFTER MATCH SKIP PAST LAST ROW
  //   on plain unquantified variables)
  //     → cepLinear, one call (ExMatch step_ts/step_cls/step_value
  //       indexing; relative DEFINEs ride its per-step prior conditions)
  //   S R+ U / S R* U / S R{n,} U (plain or alternation run)
  //     → cepPatternOneOrMore (run boundaries, count, value aggregates,
  //       per-branch counts)
  //   S D+ U with DEFINE D AS D.c <op> PREV(D.c[, n]) (the V-shape)
  //     → cepPatternRun
  //   S (B C ...)+ U / (B C ...)* → cepPatternGroup (valueSubIdx for ONE
  //       member's value aggregates)
  //   S ((I ...)+ T)+, S (((I ...)+ M)+ T)+, ... (any depth)
  //     → cepPatternNestedNGroup
  //
  // PREDICATE PACKING: the twins take Event => Boolean closures, but the
  // DEFINE bodies are arbitrary Spark SQL boolean expressions — so they are
  // evaluated DECLARATIVELY, as columns on the unbounded frame itself
  // (Catalyst-planned, codegen'd, any event column addressable), and packed
  // into the Event's `event_type` slot as a '0'/'1' bitmask string, one bit
  // per atomic predicate. Each twin closure is then a single charAt test.
  // This keeps the whole predicate surface of the batch front door (minus
  // the named boundaries below) without interpreting SQL in the state
  // machine.
  //
  // Named boundaries (errors, not silent degradation): MATCH_NUMBER(),
  // AFTER MATCH SKIP TO FIRST/LAST, composite ORDER BY tiebreaks, physical
  // PREV over another variable, sequence-group residuals and residual
  // references past the anchor, more than ONE distinct value column across
  // the measures (the twins bind one), ALL ROWS over runs/groups, and
  // quantifier/run shapes outside the twin inventory above. Composite /
  // non-integral partition keys ride Event.skey (r20); NULL values in the
  // one bound column ride the NaN channel with the batch null conventions
  // (r20) — a genuine NaN data value is indistinguishable from NULL on the
  // stream, the one residual value boundary.
  // =========================================================================

  /** Compile a tail-residual threshold (`parseTailResidual`'s rhs —
    * qualified earlier-binding references already rewritten to
    * `<var>_<col>` tokens, numeric literals, `+ - * /` and parens; the
    * same restricted grammar the batch side validated) into a closure
    * over the PRIOR BOUND VALUES, for the streaming iterative twin:
    * `resolve` maps each reference token to its prior-list index, and the
    * returned program evaluates the arithmetic against those values
    * (shunting-yard to RPN once at compile time; a flat stack walk per
    * candidate). IEEE double semantics match the batch Catalyst
    * evaluation on the same expression. */
  private def compileResidualArith(rhs: String,
      resolve: String => Int): IndexedSeq[Double] => Double = {
    sealed trait Tok
    final case class Num(v: Double) extends Tok
    final case class Ref(i: Int) extends Tok
    final case class Op(c: Char) extends Tok
    final case class Par(open: Boolean) extends Tok
    val tokRx =
      "([A-Za-z_]\\w*)|((?:\\d+\\.?\\d*|\\.\\d+)(?:[eE][-+]?\\d+)?)|([-+*/()])".r
    val raw: List[Tok] = tokRx.findAllMatchIn(rhs).map { m =>
      if (m.group(1) != null) Ref(resolve(m.group(1)))
      else if (m.group(2) != null) Num(m.group(2).toDouble)
      else m.group(3) match {
        case "(" => Par(true)
        case ")" => Par(false)
        case o => Op(o.head)
      }
    }.toList
    // unary minus/plus (leading, or after '(' or an operator): a unary '+'
    // drops; a unary '-' before a literal folds into it, and before a
    // reference or '(' becomes the dedicated NEGATE operator '~' (highest
    // precedence, right-associative) — a 0-minus rewrite at ADDITIVE
    // precedence would mis-evaluate `S.value * -2` as (S.value*0)-2
    val toks: List[Tok] = {
      val b = scala.collection.mutable.ListBuffer.empty[Tok]
      var i = 0
      while (i < raw.length) {
        raw(i) match {
          case Op(c) if (c == '-' || c == '+') &&
              (b.lastOption match {
                case None | Some(Op(_)) | Some(Par(true)) => true
                case _ => false }) =>
            if (c == '-') raw.lift(i + 1) match {
              case Some(Num(v)) => b += Num(-v); i += 1 // fold into literal
              case _ => b += Op('~')
            }
          case t => b += t
        }
        i += 1
      }
      b.toList
    }
    def prec(c: Char): Int =
      if (c == '~') 3 else if (c == '+' || c == '-') 1 else 2
    val out = List.newBuilder[Tok]
    var ops = List.empty[Tok]
    toks.foreach {
      case t @ (Num(_) | Ref(_)) => out += t
      case Par(true) => ops = Par(true) :: ops
      case Par(false) =>
        while (ops.nonEmpty && ops.head != Par(true)) {
          out += ops.head; ops = ops.tail
        }
        require(ops.nonEmpty, s"residual threshold '$rhs': unbalanced parens")
        ops = ops.tail
      case o @ Op(c) =>
        // '~' is right-associative: pop only STRICTLY higher precedence
        while (ops.nonEmpty && (ops.head match {
          case Op(c2) =>
            if (c == '~') prec(c2) > prec(c) else prec(c2) >= prec(c)
          case _ => false })) {
          out += ops.head; ops = ops.tail
        }
        ops = o :: ops
    }
    ops.foreach { o => require(o != Par(true),
      s"residual threshold '$rhs': unbalanced parens"); out += o }
    val rpn = out.result().toArray
    require(rpn.nonEmpty, s"residual threshold '$rhs': empty expression")
    (prior: IndexedSeq[Double]) => {
      var stack = List.empty[Double]
      rpn.foreach {
        case Num(v) => stack = v :: stack
        case Ref(i) => stack = prior(i) :: stack
        case Op('~') =>
          val x :: rest = stack: @unchecked
          stack = -x :: rest
        case Op(c) =>
          val b :: a :: rest = stack: @unchecked
          val r = c match {
            case '+' => a + b; case '-' => a - b
            case '*' => a * b; case _ => a / b
          }
          stack = r :: rest
        case Par(_) => ()
      }
      stack.head
    }
  }

  /** Collision-free composite-key rendering for the streaming twins — the
    * batch [[Pattern.keyString]] length-prefix format over the key parts'
    * STRING casts ('N' for a null part, `V<len>:<chars>` otherwise; the
    * cast-to-string and cast-back round-trip is identity for the atomic
    * part types the front door admits). Encode runs per input event (one
    * row-local projection feeding the keyed shuffle); decode runs on the
    * tiny match table only. */
  private val encodeKeyUdf =
    org.apache.spark.sql.functions.udf((r: org.apache.spark.sql.Row) =>
      (0 until r.length).map { i =>
        r.get(i) match {
          case null => "N"
          case s => val t = s.toString; s"V${t.length}:$t"
        }
      }.mkString)
  private val decodeKeyUdf =
    org.apache.spark.sql.functions.udf((s: String) => {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < s.length) {
        if (s.charAt(i) == 'N') { out += null; i += 1 }
        else {
          val c = s.indexOf(':', i)
          val n = s.substring(i + 1, c).toInt
          out += s.substring(c + 1, c + 1 + n)
          i = c + 1 + n
        }
      }
      out.toSeq
    })

  /** Streaming MATCH_RECOGNIZE — parse `sql` and run the compiled pattern
    * over the unbounded `events0` (see the shape table above). The
    * watermark delay is read from the frame's own `EventTimeWatermark`
    * node (the FlinkDdl `WATERMARK FOR ts AS ts - INTERVAL ...`
    * declaration or a prior `withWatermark`) unless passed explicitly.
    * Output: the partition column + one column per MEASURES item, exactly
    * the batch [[detect]] surface; rows emit when the twins' watermark
    * finality rules allow (immediately for linear completions, at window
    * expiry for held/nested shapes). */
  def detectStream(events0: DataFrame, sql: String, watermark: String = null,
                   maxPartials: Int = 256): DataFrame = {
    import graft.streaming.{StreamOps, Event => SEvent}
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
    require(events0.isStreaming,
      "detectStream needs a streaming frame — detect() compiles batch frames")
    val spec = parse(sql)
    val wmDelay = {
      import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
      val wms = events0.queryExecution.analyzed.collect {
        case e: EventTimeWatermark =>
          (e.eventTime.name, EventTimeWatermark.getDelayMs(e.delay))
      }
      val onOrderBy = wms.find(_._1 == spec.orderBy)
      // a watermark on a DIFFERENT column is not a delay for this query —
      // adopting it silently would run the pattern under an arbitrary
      // unrelated lateness bound
      (Option(watermark), onOrderBy) match {
        case (Some(_), Some((_, ms))) =>
          // the source's declaration survives the projection and the twins
          // inherit it (Spark disallows redefining a watermark mid-plan) —
          // an explicit conflicting argument would be silently inert, so
          // refuse it by name
          sys.error("the source already declares a watermark on " +
            s"${spec.orderBy} ($ms ms) and the twins inherit it — drop " +
            "detectStream's watermark argument or declare the desired " +
            "delay on the source itself")
        case (Some(w), None) => w
        case (None, Some((_, ms))) => s"$ms milliseconds"
        case (None, None) =>
          sys.error("streaming MATCH_RECOGNIZE needs an event-time " +
            s"watermark on ${spec.orderBy} — declare one on the source " +
            "table (WATERMARK FOR ... in the DDL, or df.withWatermark" +
            (if (wms.nonEmpty) s"; the frame's watermark on " +
              s"'${wms.head._1}' is a different column" else "") +
            ") or pass detectStream's watermark argument")
      }
    }
    // ---- named boundaries -------------------------------------------------
    // ALL ROWS PER MATCH composes with the plain linear and final-nested
    // shapes (r19 — the twins materialize rows at every depth); other
    // shapes reject inside their branches
    require(spec.skipTo.isEmpty, "AFTER MATCH SKIP TO FIRST/LAST is " +
      "batch-only — the streaming twins emit per-start matches " +
      "(SKIP TO NEXT ROW) or SKIP PAST LAST ROW on the plain linear shape")
    require(spec.orderTies.isEmpty, "composite ORDER BY tiebreaks are " +
      "batch-only through the SQL front door — equal-timestamp streaming " +
      "decisions follow the twins' documented (ts, type, value) order")
    spec.measures.foreach(m => require(!m.fn.contains("MATCH_NUMBER"),
      "MATCH_NUMBER() is batch-only. The impossibility is semantic, not an " +
        "implementation gap: the ordinal numbers a partition's matches by " +
        "their BINDING timestamps in pattern order, and on an unbounded " +
        "stream a new match can always begin before an already-emitted " +
        "one's bindings (twins emit on watermark finality per match, not " +
        "per partition) — any ordinal assigned at emission could be " +
        "invalidated by a later-arriving earlier match, and append-mode " +
        "emission cannot retract it. No watermark bounds the whole " +
        "partition, so the numbering never finalizes. Bounded rewrite: " +
        "window the stream first (GROUP BY window(...) or a batch " +
        "detect() over each watermark-finalized window) and number " +
        "matches WITHIN the window, or number downstream over the emitted " +
        "match table once the partition's source is exhausted"))
    spec.defines.foreach { case (v, b) =>
      require(!b.contains("__plag"), s"DEFINE $v: physical PREV navigation " +
        "is batch-only through the SQL front door (streaming: enrich with " +
        "StreamOps.streamingLag and use the combinator API)")
    }
    // ---- partition keys ---------------------------------------------------
    // ONE integral column rides the twins' long key directly; COMPOSITE and
    // non-integral keys (r20, lifting the one-long-column boundary) ride
    // Event.skey — the collision-free length-prefixed rendering the batch
    // compile uses (Pattern.keyString) — grouped as (user_id, skey) and
    // re-expanded under the user's names and types on the match output
    val keyName = spec.partitionBy.head
    val keyType = events0.schema(keyName).dataType
    val singleIntegral = spec.partitionBy.size == 1 &&
      Seq(ByteType, ShortType, IntegerType, LongType).contains(keyType)
    if (!singleIntegral) spec.partitionBy.foreach { n =>
      import org.apache.spark.sql.types._
      val dt = events0.schema(n).dataType
      val atomic = dt match {
        case _: StringType | _: NumericType | BooleanType | DateType |
             TimestampType | TimestampNTZType => true
        case _ => false
      }
      require(atomic, s"streaming MATCH_RECOGNIZE partition column $n: " +
        s"composite keys take atomic string/numeric/boolean/date/timestamp " +
        s"parts (got $dt) — cast or render the column upstream")
    }
    val selfRuns = selfRunDefs(spec)
    val altVars = spec.vars.filter(_.alts.nonEmpty).map(_.name).toSet
    // compile every DEFINE; iterative (relative) residuals compose with
    // the plain linear shape (the linear walk's prior conditions below)
    // and refuse by name elsewhere
    val residVars = scala.collection.mutable.LinkedHashSet.empty[String]
    val residRefs = scala.collection.mutable.LinkedHashSet.empty[String]
    val compiled: Map[String, Column] =
      spec.vars.zipWithIndex.flatMap { case (v, i) =>
        val names = if (selfRuns.contains(v.name)) Nil
          else (if (v.alts.isEmpty && v.seq.isEmpty) Seq(v.name) else Nil) ++
            v.alts ++ v.inner2Seq ++ v.midSeqs.flatten ++ v.seq
        names.map { n =>
          val (pre, residual, refs) = compiledPred(spec, n, i)
          if (residual.nonEmpty) { residVars += n; residRefs ++= refs.map(_._2) }
          n -> pre
        }
      }.toMap
    def requireNoResiduals(): Unit = require(residVars.isEmpty,
      s"DEFINE ${residVars.mkString(", ")}: iterative (relative) " +
        "conditions compose with the plain linear shape (cepPatternIter), " +
        "with S R+ U runs and with final nested groups (anchor-relative " +
        "thresholds) on a streaming frame — this shape is batch-only " +
        "through the SQL front door")
    // the parsed residual thresholds (same restricted grammar as the
    // batch tail-residual lowering: `V.col <op> <arith over earlier
    // plain bindings + literals>`)
    val residuals: Map[String, (String, String, String)] =
      residVars.map(v => v -> parseTailResidual(spec, v)).toMap
    // ---- the ONE value column the twins bind ------------------------------
    val valueFields = (spec.measures.collect {
      case m if !m.fn.contains("MATCH_NUMBER") && !m.fn.contains("CLASSIFIER") &&
        m.field != "ts" && !(altVars(m.varName) && m.field == "cls") &&
        !spec.absentVars.contains(m.varName) => m.field
    } ++ selfRuns.values.map(_.colName) ++
      residuals.values.map(_._1) ++ residRefs).distinct
    require(valueFields.size <= 1,
      s"streaming MATCH_RECOGNIZE binds ONE value column through the twins " +
        s"— the measures/residuals reference ${valueFields.mkString(", ")}")
    // NULL member values ride the NaN CHANNEL through the twins (r20,
    // lifting the former null-reads-as-0.0 boundary — VERDICT r19 item 3):
    // Event.value is a primitive double, so SQL NULL maps to NaN on entry;
    // inside the twins a NaN binding is positional-only (binds, freezes
    // FIRST/LAST, counts toward bind counts) and is ignored by the
    // null-ignoring SUM/MIN/MAX and the non-null COUNT — the batch null
    // conventions — and residual comparisons against NaN are false (3VL);
    // on output every value read below goes through unNaN, turning an
    // emitted NaN back into SQL NULL. A genuine NaN DATA value is
    // indistinguishable from NULL on the stream (document-level boundary;
    // batch keeps them distinct).
    val valueCol = valueFields.headOption
      .map(f => coalesce(col(f).cast("double"), lit(Double.NaN)))
      .getOrElse(lit(0.0))
    def unNaN(c: Column): Column = nanvl(c, lit(null).cast("double"))
    // ---- predicate packing -------------------------------------------------
    val predSlots = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def slotOf(name: String): Int =
      predSlots.getOrElseUpdate(name, predSlots.size)
    def predOfSlot(i: Int): SEvent => Boolean = e => e.event_type.charAt(i) == '1'
    def slotPred(name: String): SEvent => Boolean = predOfSlot(slotOf(name))
    // predicates added by a lowering that are not DEFINE-compiled (the
    // self-run pre-filter) — merged into the bitmask build
    var extraPreds: Map[String, Column] = Map.empty
    implicit val evEnc = org.apache.spark.sql.Encoders.product[SEvent]
    // NOTE: every lowering allocates ALL its slots (slotPred calls) BEFORE
    // invoking tagged() — the bitmask is built from the slots registered at
    // call time
    def tagged(): org.apache.spark.sql.Dataset[SEvent] = {
      val all = compiled ++ extraPreds
      val bits = predSlots.keys.toSeq.map(n =>
        when(coalesce(all(n), lit(false)), lit("1")).otherwise(lit("0")))
      val keyCols: Seq[Column] =
        if (singleIntegral) Seq(col(keyName).cast("long").as("user_id"),
          lit("").as("skey"))
        else Seq(lit(0L).as("user_id"),
          encodeKeyUdf(struct(spec.partitionBy.map(n =>
            col(n).cast("string")): _*)).as("skey"))
      events0.select(
        keyCols.head,
        col(spec.orderBy).as("ts"),
        concat(bits: _*).as("event_type"),
        valueCol.as("value"),
        keyCols(1)).as[SEvent]
    }
    // re-expand the key on the (tiny) match output: the long column back
    // under its name, or the skey rendering decoded part-by-part and cast
    // back to each column's original type
    val keyBack: Seq[Column] =
      if (singleIntegral) Seq(col("user_id").cast(keyType).as(keyName))
      else {
        val parts = decodeKeyUdf(col("skey"))
        spec.partitionBy.zipWithIndex.map { case (n, i) =>
          element_at(parts, i + 1).cast(events0.schema(n).dataType).as(n) }
      }
    val withinMs = spec.withinMs
    // measures over an element-absent variable (reluctant zero-minimum):
    // never binds — COUNT 0, everything else null (the batch convention)
    def absentMeasure(m: Measure): Column = m.fn match {
      case Some("COUNT") => lit(0L)
      case _ if m.field == "ts" => lit(null).cast("timestamp")
      case _ => lit(null).cast("double")
    }
    def measureOut(df: DataFrame, classifierCol: => Column)
                  (f: Measure => Column): DataFrame =
      if (spec.measures.isEmpty)
        df.select(keyBack ++ df.columns
          .filter(c => c != "user_id" && c != "skey").map(col).toSeq: _*)
      else df.select(keyBack ++ spec.measures.map(m =>
        (if (m.fn.contains("CLASSIFIER")) classifierCol
         else if (spec.absentVars.contains(m.varName)) absentMeasure(m)
         else f(m)).as(m.alias)): _*)
    def fnName(m: Measure): String = m.fn.getOrElse("a bare reference")
    val vars = spec.vars
    val first = vars.head
    def isPlainVar(v: PatternVar): Boolean =
      v.alts.isEmpty && v.seq.isEmpty && v.inner2Seq.isEmpty &&
        !selfRuns.contains(v.name)
    def linearQuant(v: PatternVar): Boolean = v.quant match {
      case None | Some("?") => true
      case Some(q) => q.startsWith("{") && !q.endsWith(",}")
    }
    // bare (reluctant-collapsed) sequence groups are inline sub-sequences:
    // expand the members into plain linear steps before classification
    val expanded: Seq[PatternVar] = vars.flatMap {
      case v if v.seq.nonEmpty && v.inner2Seq.isEmpty &&
        v.quant.isEmpty => v.seq.map(PatternVar(_, None))
      case v => Seq(v)
    }
    val nestedVar = expanded.find(_.inner2Seq.nonEmpty)
    // relative conditions for the linear walk: a variable with a relative
    // DEFINE also compares its value with its residual threshold over the
    // PRIOR bound values — the m06-class `P.value > 2 * S.value` shape,
    // compiled once to an RPN program
    val expIdx = expanded.map(_.name).zipWithIndex.toMap
    def relOf(v: PatternVar): Option[StreamOps.Prior] =
      residuals.get(v.name).map { case (_, op, rhs) =>
        val vc = valueFields.headOption.getOrElse("value")
        val prog = compileResidualArith(rhs, tok =>
          expIdx.collectFirst { case (n, i) if tok == s"${n}_$vc" => i }
            .getOrElse(sys.error(s"streaming residual for ${v.name}: " +
              s"reference '$tok' — thresholds on a streaming frame may " +
              s"only use earlier variables' '$vc' bindings and numeric " +
              "literals (timestamp thresholds are batch-only)")))
        val cmp: (Double, Double) => Boolean = op match {
          case "<" => _ < _
          case "<=" => _ <= _
          case ">" => _ > _
          case _ => _ >= _
        }
        (e: SEvent, prior: List[SEvent]) =>
          cmp(e.value, prog(prior.map(_.value).toIndexedSeq))
      }
    // anchor-relative residual closure for the run/nested twins (r20 —
    // reference flink-cep IterativeCondition.java composes with every
    // quantifier): the threshold tuple is the ANCHOR's value binding,
    // read once when the twin's partial opens, so the residual may
    // reference only the anchor (repeating members' own bindings are the
    // genuinely unbounded case and stay named rejections)
    def anchorRes(vname: String, anchor: String): (SEvent, Double) => Boolean = {
      val (_, op, rhs) = residuals(vname)
      val vc = valueFields.headOption.getOrElse("value")
      val prog = compileResidualArith(rhs, tok =>
        if (tok == s"${anchor}_$vc") 0
        else sys.error(s"streaming residual for $vname: reference '$tok' — " +
          s"run/nested residual thresholds on a streaming frame may only " +
          s"use the anchor $anchor's '$vc' binding and numeric literals"))
      val cmp: (Double, Double) => Boolean = op match {
        case "<" => _ < _
        case "<=" => _ <= _
        case ">" => _ > _
        case _ => _ >= _
      }
      (e: SEvent, av: Double) => cmp(e.value, prog(IndexedSeq(av)))
    }

    // ======================= LINEAR =======================
    if (expanded.forall(v => (isPlainVar(v) && linearQuant(v)) ||
        (v.alts.nonEmpty && v.quant.isEmpty))) {
      // expansion slots: one step_ts entry per expanded occurrence
      case class VarSlots(v: PatternVar, idxs: Seq[Int])
      var next = 0
      val varSlots: Seq[VarSlots] = expanded.map { v =>
        val n = v.quant match {
          case Some(q) if q.startsWith("{") =>
            val b = q.stripPrefix("{").stripSuffix("}").split(",")
            if (b.length == 2) b(1).toInt else b(0).toInt
          case _ => 1
        }
        val s = VarSlots(v, next until (next + n)); next += n; s
      }
      val byName = varSlots.map(s => s.v.name -> s).toMap
      val valueMeasures = spec.measures.exists(m =>
        !m.fn.contains("CLASSIFIER") && m.field != "ts" &&
          !(altVars(m.varName) && m.field == "cls") &&
          !spec.absentVars.contains(m.varName))
      val allPlainUnquant = expanded.forall(v => isPlainVar(v) && v.quant.isEmpty)
      if (spec.allRows)
        require(allPlainUnquant && !spec.skipPastLast,
          "streaming ALL ROWS PER MATCH composes with plain unquantified " +
            "variables (and final nested groups) — quantifiers, " +
            "alternations and SKIP PAST LAST ROW are batch-only under " +
            "ALL ROWS on a stream")
      else if (spec.skipPastLast) {
        requireNoResiduals()
        require(allPlainUnquant && !valueMeasures,
          "AFTER MATCH SKIP PAST LAST ROW on a streaming frame composes " +
            "with plain unquantified variables and timestamp measures only")
      } else if (residVars.nonEmpty)
        require(allPlainUnquant,
          "streaming iterative (relative) DEFINEs compose with plain " +
            "unquantified variables (cepPatternIter) — not with " +
            "'?'/'{n}' quantifiers or alternations")
      // relative DEFINEs and all-plain value measures read a plain
      // variable's one bound event: no aggregates over it
      val oneBinding = !spec.allRows && !spec.skipPastLast &&
        (residVars.nonEmpty || (valueMeasures && allPlainUnquant))
      val steps = expanded.map { v =>
        val step = if (v.alts.nonEmpty)
          StreamOps.CepStep(_ => false, branches = v.alts.map(b => b -> slotPred(b)))
        else {
          val p = slotPred(v.name)
          v.quant match {
            case None => StreamOps.CepStep(p)
            case Some("?") => StreamOps.CepStep(p, optional = true)
            case Some(q) =>
              val b = q.stripPrefix("{").stripSuffix("}").split(",")
              if (b.length == 2)
                StreamOps.CepStep(p, times = b(0).toInt, timesTo = b(1).toInt)
              else StreamOps.CepStep(p, times = b(0).toInt)
          }
        }
        (step, relOf(v))
      }
      implicit val exEnc = org.apache.spark.sql.Encoders.product[graft.streaming.ExMatch]
      // slots are all allocated above, BEFORE tagged()
      val m = StreamOps.cepLinear(tagged(), wmDelay, steps, withinMs, maxPartials,
        skipPastLast = spec.skipPastLast)(identity).toDF()
      if (spec.allRows) {
        // ALL ROWS over a plain linear match: one output row per bound
        // step with RUNNING measures (null before the referenced variable
        // binds — the batch static-explode semantics)
        def runningAt(mm: Measure, p: Int): Column = {
          if (mm.fn.contains("CLASSIFIER")) return lit(expanded(p).name)
          if (spec.absentVars.contains(mm.varName)) return absentMeasure(mm)
          val q = expIdx.getOrElse(mm.varName,
            sys.error(s"measure over unknown variable ${mm.varName}"))
          val visible = q <= p
          if (mm.field == "ts") mm.fn match {
            case None | Some("FIRST") | Some("LAST") =>
              if (visible) element_at(col("step_ts"), q + 1)
              else lit(null).cast("timestamp")
            case Some("COUNT") => lit(if (visible) 1L else 0L)
            case other => sys.error(s"${fnName(mm)}(${mm.varName}.ts): a " +
              "plain variable's running timestamp measures are " +
              "bare/FIRST/LAST/COUNT")
          } else mm.fn match {
            // a plain variable binds ONE value: every running aggregate of
            // it is the value itself once visible (COUNT is 0/1)
            case None | Some("FIRST") | Some("LAST") | Some("SUM") |
                 Some("MIN") | Some("MAX") | Some("AVG") =>
              if (visible) unNaN(element_at(col("step_value"), q + 1))
              else lit(null).cast("double")
            case Some("COUNT") => lit(if (visible) 1L else 0L)
            case other => sys.error(s"${fnName(mm)}(${mm.varName}." +
              s"${mm.field}): unsupported measure function")
          }
        }
        val structs = expanded.zipWithIndex.map { case (v, p) =>
          struct(lit(v.name).as("cls") +:
            element_at(col("step_ts"), p + 1).as("ts") +:
            spec.measures.map(m => runningAt(m, p).as(m.alias)): _*)
        }
        val rowCols = Seq("cls", "ts") ++ spec.measures.map(_.alias)
        return m.select(keyBack :+ explode(array(structs: _*)).as("__r"): _*)
          .select(spec.partitionBy.map(col) ++
            rowCols.map(n => col(s"__r.$n").as(n)): _*)
      }
      def classifierCol: Column = {
        val last = expanded.last
        require(!last.quant.contains("?"),
          "CLASSIFIER(): the final PATTERN element is optional — " +
            "data-dependent last-row variable (batch ALL ROWS only)")
        if (last.alts.nonEmpty)
          element_at(col("step_cls"), byName(last.name).idxs.head + 1)
        else lit(last.name)
      }
      measureOut(m, classifierCol) { mm =>
        if (spec.skipPastLast)
          require(mm.field == "ts" && (mm.fn.isEmpty ||
            mm.fn.exists(f => f == "FIRST" || f == "LAST")),
            s"${mm.varName}.${mm.field}: plain timestamp measures only " +
              "under streaming SKIP PAST LAST ROW")
        if (oneBinding)
          require(mm.fn.isEmpty || mm.fn.exists(f => f == "FIRST" || f == "LAST"),
            s"${fnName(mm)}(${mm.varName}.${mm.field}): a plain variable " +
              "binds one event — aggregates need a quantified run")
        if (altVars(mm.varName) && mm.field == "cls") {
          element_at(col("step_cls"), byName(mm.varName).idxs.head + 1)
        } else if (mm.field != "ts") {
          // value measures over the expansion slots (the m11-class
          // `SUM(B.value)` on `B{n,m}` — the walk carries per-slot
          // bound values; skipped optional slots read null)
          require(!altVars(mm.varName),
            s"${mm.varName}.${mm.field}: alternation-group value " +
              "measures are not materialized on a stream (use the " +
              "branch classifiers / counts)")
          val idxs = byName(mm.varName).idxs
          def v(i: Int) = unNaN(element_at(col("step_value"), i + 1))
          def cnt = idxs.map(i => when(v(i).isNotNull, lit(1L))
            .otherwise(lit(0L))).reduce(_ + _)
          mm.fn match {
            case None =>
              require(idxs.size == 1, s"${mm.varName}.${mm.field}: a " +
                "quantified variable needs FIRST/LAST/SUM/MIN/MAX/AVG/COUNT")
              v(idxs.head)
            case Some("FIRST") => v(idxs.head)
            case Some("LAST") => coalesce(idxs.reverse.map(v): _*)
            case Some("SUM") =>
              idxs.map(v).reduce((a, b) => a + coalesce(b, lit(0.0)))
            case Some("MIN") =>
              if (idxs.size == 1) v(idxs.head) else least(idxs.map(v): _*)
            case Some("MAX") =>
              if (idxs.size == 1) v(idxs.head) else greatest(idxs.map(v): _*)
            case Some("AVG") =>
              idxs.map(v).reduce((a, b) => a + coalesce(b, lit(0.0))) / cnt
            case Some("COUNT") => cnt
            case other => sys.error(s"${fnName(mm)}(${mm.varName}." +
              s"${mm.field}): unsupported measure function")
          }
        } else {
          val idxs = byName(mm.varName).idxs
          mm.fn match {
            case None =>
              require(idxs.size == 1, s"${mm.varName}.ts: a quantified " +
                "variable needs FIRST/LAST/COUNT")
              element_at(col("step_ts"), idxs.head + 1)
            case Some("FIRST") => element_at(col("step_ts"), idxs.head + 1)
            case Some("LAST") =>
              // '{n,m}': the optional tail is a nullable SUFFIX — the
              // last bound expansion is the first non-null from the right
              coalesce(idxs.reverse.map(i =>
                element_at(col("step_ts"), i + 1)): _*)
            case Some("COUNT") =>
              idxs.map(i => when(element_at(col("step_ts"), i + 1).isNotNull,
                lit(1L)).otherwise(lit(0L))).reduce(_ + _)
            case other => sys.error(s"${fnName(mm)}(${mm.varName}.ts): " +
              "FIRST/LAST/COUNT only over quantified timestamps")
          }
        }
      }
    }
    // ======================= RUN (S R+ U) =======================
    else if (expanded.size == 3 && isPlainVar(expanded.head) &&
        expanded.head.quant.isEmpty && isPlainVar(expanded(2)) &&
        expanded(2).quant.isEmpty &&
        (selfRuns.contains(expanded(1).name) ||
          ((expanded(1).alts.nonEmpty || isPlainVar(expanded(1))) &&
            expanded(1).quant.exists(isRunQ)))) {
      val Seq(s0, r, u) = expanded
      require(!spec.skipPastLast, "AFTER MATCH SKIP PAST LAST ROW on a " +
        "streaming frame composes with the plain linear shape only")
      require(!spec.allRows, "streaming ALL ROWS PER MATCH composes with " +
        "plain linear patterns and final nested groups — not with " +
        "'+'/'*' runs (the run twins keep ONE ROW per match)")
      // iterative (relative) DEFINEs on the run member / the close (r20):
      // anchor-relative thresholds ride the run twin's per-partial
      // threshold; anything else (self-runs, alternation branches,
      // references past the anchor) stays a named rejection
      val runResid = residVars.toSet
      require(runResid.subsetOf(Set(r.name, u.name)) ||
          selfRuns.contains(r.name) && runResid.isEmpty,
        s"DEFINE ${residVars.mkString(", ")}: streaming run residuals " +
          s"compose with the run member (${r.name}) and the close " +
          s"(${u.name}) only")
      require(runResid.isEmpty || !selfRuns.contains(r.name),
        "a self-referential (PREV) run composes with plain DEFINEs only")
      require(runResid.isEmpty || r.alts.isEmpty,
        "alternation-run branches cannot carry relative residuals")
      def tsOnly(mm: Measure, c: Column): Column = {
        require(mm.field == "ts" && (mm.fn.isEmpty ||
          mm.fn.exists(f => f == "FIRST" || f == "LAST")),
          s"${fnName(mm)}(${mm.varName}.${mm.field}): a plain variable " +
            "binds one event (timestamp)")
        c
      }
      if (selfRuns.contains(r.name)) {
        // the V-shape: DEFINE R AS R.c <op> PREV(R.c[, n])
        val rd = selfRuns(r.name)
        val acceptD: (Double, Double) => Boolean = rd.op match {
          case "<" => _ < _
          case ">" => _ > _
          case "<=" => _ <= _
          case ">=" => _ >= _
        }
        require(r.quant.contains("+"), s"self-referential run ${r.name} " +
          "requires '+'")
        // the run pre-filter is the compiled plain conjuncts (the
        // self-LAST comparison itself runs in acceptD against Event.value)
        val preName = s"__selfpre_${r.name}"
        extraPreds = Map(preName -> rd.pre)
        val firstP = slotPred(s0.name); val runP = slotPred(preName)
        val lastP = slotPred(u.name)
        val m = StreamOps.cepPatternRun(tagged(), wmDelay, firstP, runP,
          acceptD, lastP, withinMs, maxPartials, rd.offset)
        measureOut(m.toDF(), lit(u.name)) { mm =>
          mm.varName match {
            case n if n == s0.name => tsOnly(mm, col("first_ts"))
            case n if n == u.name => tsOnly(mm, col("last_ts"))
            case n if n == r.name => (mm.fn, mm.field) match {
              case (Some("FIRST"), "ts") => col("run_first_ts")
              case (Some("LAST"), "ts") => col("run_last_ts")
              case (Some("COUNT"), _) => col("run_n")
              case (Some("FIRST"), f) if f == rd.colName =>
                unNaN(col("run_first_value"))
              case (Some("LAST"), f) if f == rd.colName =>
                unNaN(col("run_last_value"))
              case _ => sys.error(s"${fnName(mm)}(${r.name}.${mm.field}): " +
                "the streaming V-shape run materializes FIRST/LAST " +
                "timestamps and values plus COUNT")
            }
            case n => sys.error(s"measure over unknown variable $n")
          }
        }
      } else {
        val (runP, branchPs): (SEvent => Boolean, Seq[SEvent => Boolean]) =
          if (r.alts.isEmpty) (slotPred(r.name), Nil)
          else {
            val bs = r.alts.map(slotPred)
            ((e: SEvent) => bs.exists(_(e)), bs)
          }
        val firstP = slotPred(s0.name); val lastP = slotPred(u.name)
        val minRun = r.quant match {
          case Some(q) if q.endsWith(",}") =>
            q.stripPrefix("{").stripSuffix(",}").toInt
          case _ => 1
        }
        val m = StreamOps.cepPatternOneOrMore(tagged(), wmDelay, firstP, runP,
          lastP, withinMs, maxPartials,
          allowEmpty = r.quant.contains("*"),
          branchPreds = branchPs, minRun = minRun,
          thresholdOf = if (runResid.isEmpty) null else (e: SEvent) => e.value,
          runRes = if (runResid.contains(r.name)) anchorRes(r.name, s0.name)
                   else null,
          lastRes = if (runResid.contains(u.name)) anchorRes(u.name, s0.name)
                    else null)
        val branchIdx = r.alts.zipWithIndex.toMap
        measureOut(m.toDF(), lit(u.name)) { mm =>
          mm.varName match {
            case n if n == s0.name => tsOnly(mm, col("first_ts"))
            case n if n == u.name => tsOnly(mm, col("last_ts"))
            case n if branchIdx.contains(n) =>
              require(mm.fn.contains("COUNT") && mm.field == "ts",
                s"branch $n of alternation run ${r.name}: COUNT($n.ts) is " +
                  "the only branch measure")
              element_at(col("branch_counts"), branchIdx(n) + 1)
            case n if n == r.name => (mm.fn, mm.field) match {
              case (Some("FIRST"), "ts") => col("run_first_ts")
              case (Some("LAST"), "ts") => col("run_last_ts")
              // the batch engine counts BINDINGS for COUNT(R.value) and
              // divides AVG by the member count (its documented positional
              // convention — null-valued members bind); the twins mirror it
              case (Some("COUNT"), _) => col("run_n")
              case (Some("SUM"), _) => unNaN(col("run_sum_value"))
              case (Some("MIN"), _) => unNaN(col("run_min_value"))
              case (Some("MAX"), _) => unNaN(col("run_max_value"))
              case (Some("AVG"), _) =>
                unNaN(col("run_sum_value")) / col("run_n")
              case (Some("FIRST"), _) => unNaN(col("run_first_value"))
              case (Some("LAST"), _) => unNaN(col("run_last_value"))
              case _ => sys.error(s"${fnName(mm)}(${r.name}.${mm.field}): " +
                "use FIRST/LAST/COUNT/SUM/MIN/MAX/AVG over the run")
            }
            case n => sys.error(s"measure over unknown variable $n")
          }
        }
      }
    }
    // ======================= GROUP (S (B C..)+ U) =======================
    else if (expanded.size == 3 && isPlainVar(expanded.head) &&
        expanded.head.quant.isEmpty && isPlainVar(expanded(2)) &&
        expanded(2).quant.isEmpty && expanded(1).seq.nonEmpty &&
        expanded(1).inner2Seq.isEmpty &&
        expanded(1).quant.exists(q => q == "+" || q == "*")) {
      val Seq(s0, g, u) = expanded
      require(!spec.skipPastLast, "AFTER MATCH SKIP PAST LAST ROW on a " +
        "streaming frame composes with the plain linear shape only")
      require(!spec.allRows, "streaming ALL ROWS PER MATCH composes with " +
        "plain linear patterns and final nested groups — not with " +
        "sequence groups (the group twin keeps ONE ROW per match)")
      requireNoResiduals()
      val memberIdx = g.seq.zipWithIndex.toMap
      // ONE member may carry value measures (the twin's valueSubIdx)
      val valMembers = spec.measures.collect {
        case m if memberIdx.contains(m.varName) && m.field != "ts" => m.varName
      }.distinct
      require(valMembers.size <= 1, s"sequence group ${g.name}: the " +
        s"streaming twin binds ONE member's values (got " +
        s"${valMembers.mkString(", ")})")
      val vIdx = valMembers.headOption.map(memberIdx).getOrElse(-1)
      val firstP = slotPred(s0.name)
      val subPs = g.seq.map(slotPred)
      val lastP = slotPred(u.name)
      val m = StreamOps.cepPatternGroup(tagged(), wmDelay,
        firstP, subPs, lastP, withinMs,
        maxPartials, allowEmpty = g.quant.contains("*"), valueSubIdx = vIdx)
      measureOut(m.toDF(), lit(u.name)) { mm =>
        mm.varName match {
          case n if n == s0.name =>
            require(mm.field == "ts", s"$n.${mm.field}: timestamp only")
            col("first_ts")
          case n if n == u.name =>
            require(mm.field == "ts", s"$n.${mm.field}: timestamp only")
            col("last_ts")
          case n if memberIdx.contains(n) || n == g.name =>
            if (mm.field != "ts") {
              require(memberIdx.get(n).contains(vIdx), s"value measure over " +
                s"$n: not the designated value member")
              mm.fn match {
                case Some("SUM") => unNaN(col("rep_sum_value"))
                case Some("MIN") => unNaN(col("rep_min_value"))
                case Some("MAX") => unNaN(col("rep_max_value"))
                case Some("AVG") =>
                  unNaN(col("rep_sum_value")) / col("rep_n")
                case Some("FIRST") => unNaN(col("rep_first_value"))
                case Some("LAST") => unNaN(col("rep_last_value"))
                // bindings count — the batch positional convention
                case Some("COUNT") => col("rep_n")
                case _ => sys.error(s"${fnName(mm)}($n.${mm.field}): use " +
                  "SUM/AVG/MIN/MAX/FIRST/LAST/COUNT")
              }
            } else mm.fn match {
              case Some("COUNT") => col("rep_n")
              case Some("FIRST") =>
                require(n == g.name || n == g.seq.head,
                  s"FIRST($n.ts): the chain materializes the first " +
                    s"repetition's FIRST member binding (${g.seq.head})")
                col("rep_first_ts")
              case Some("LAST") =>
                require(n == g.name || n == g.seq.last,
                  s"LAST($n.ts): the chain materializes the last " +
                    s"repetition's FINAL member binding (${g.seq.last})")
                col("rep_last_ts")
              case other => sys.error(s"${fnName(mm)}($n.ts): " +
                "FIRST/LAST/COUNT only over group timestamps")
            }
          case n => sys.error(s"measure over unknown variable $n")
        }
      }
    }
    // ========== NESTED GROUPS (final element, depth-parametric) ==========
    else if (expanded.size == 2 && isPlainVar(expanded.head) &&
        expanded.head.quant.isEmpty && nestedVar.contains(expanded(1))) {
      val s0 = expanded.head; val g = expanded(1)
      require(!spec.skipPastLast, "AFTER MATCH SKIP PAST LAST ROW on a " +
        "streaming frame composes with the plain linear shape only")
      require(g.quant.contains("+"), s"streaming nested group ${g.name}: " +
        "outer '+' only (a '*' outer group is batch-only)")
      val levelLists: Seq[Seq[String]] =
        g.midSeqs :+ g.seq
      levelLists.foreach(l => require(l.size == 1,
        s"streaming nested group ${g.name}: one closing step per level " +
          s"(got ${l.mkString(" ")})"))
      val innerMembers = g.inner2Seq
      val innerIdx = innerMembers.zipWithIndex.toMap
      val depth = levelLists.size // 1 = ((I..)+ T)+, 2 = (((I..)+ M)+ T)+, ...
      val closers = levelLists.map(_.head)
      val closerOfVar: Map[String, Int] = closers.zipWithIndex.toMap
      // value measures (r19): ANY member — inner or closer — at ANY depth
      // rides the N twin's bindValues (the batch bindGroup surface)
      val valMembers = spec.measures.collect {
        case m if m.field != "ts" && !m.fn.contains("CLASSIFIER") &&
          !spec.absentVars.contains(m.varName) &&
          (innerIdx.contains(m.varName) || closerOfVar.contains(m.varName) ||
            m.varName == g.name || m.varName == s0.name) => m.varName
      }.distinct
      valMembers.foreach(n => require(
        innerIdx.contains(n) || closerOfVar.contains(n),
        s"value measure over $n: streaming nested-group values bind GROUP " +
          "members (inner members and closers), not the anchor or the " +
          "group name"))
      // iterative (relative) DEFINEs on group members (r20): anchor-relative
      // thresholds ride the N twin's per-partial threshold — inner
      // members and closers at any depth; references past the anchor stay
      // named rejections inside anchorRes
      val nResid = residVars.toSet
      require(nResid.subsetOf((innerMembers ++ closers).toSet),
        s"DEFINE ${residVars.mkString(", ")}: streaming nested-group " +
          "residuals compose with the group's inner members and closers only")
      val thrOf: SEvent => Double =
        if (nResid.isEmpty) null else (e: SEvent) => e.value
      val passRes: (SEvent, Double) => Boolean = (_, _) => true
      val innerResCl: Seq[(SEvent, Double) => Boolean] =
        if (nResid.intersect(innerMembers.toSet).isEmpty) Nil
        else innerMembers.map(n =>
          if (nResid.contains(n)) anchorRes(n, s0.name) else passRes)
      val closerResCl: Seq[(SEvent, Double) => Boolean] =
        if (nResid.intersect(closers.toSet).isEmpty) Nil
        else closers.map(n =>
          if (nResid.contains(n)) anchorRes(n, s0.name) else passRes)
      // member index in the twin's vsnap / member_vals arrays: inner
      // members first, then the closers in level order
      def memberVIdx(n: String): Int =
        innerIdx.getOrElse(n, innerMembers.size + closerOfVar(n))
      // ONE twin at every depth. Under ALL ROWS it materializes every
      // committed bound event with its classifier and running per-level
      // counts (the batch <g>_rows payload) and, for value measures, the
      // running per-member (sum/min/max/first/last/cnt) snapshots AS OF
      // the row (r20, the m56 batch surface on the stream); otherwise it
      // binds the final per-member value aggregates (`member_vals`)
      val useVals = valMembers.nonEmpty
      // slots first: tagged() packs only the slots registered before it
      val firstP = slotPred(s0.name)
      val innerPreds = innerMembers.map(slotPred)
      val closerPreds = closers.map(slotPred)
      val mdf: DataFrame = StreamOps.cepPatternNestedNGroup(tagged(), wmDelay,
        firstP, innerPreds, closerPreds, withinMs, maxPartials,
        innerOptional = g.innerStar,
        materializeRows = spec.allRows, innerNames = innerMembers,
        closerNames = closers, bindValues = useVals && !spec.allRows,
        rowValues = useVals && spec.allRows, thresholdOf = thrOf,
        innerRes = innerResCl, closerRes = closerResCl).toDF()
      // closer level l's count in `level_counts`, which lists the
      // intermediate levels OUTERMOST FIRST (1-based position depth-1-l)
      def levelCount(counts: Column, l: Int): Column =
        element_at(counts, depth - 1 - l)
      if (spec.allRows) {
        // the ALL ROWS expansion is one generator over the match row, plus
        // the synthesized prefix row
        val finalInner = innerMembers.last
        // running count of the member's own unit as of the row — the
        // batch final-member conventions (only the FINAL member of a unit
        // carries that unit's count on every row)
        def rowCount(n: String, r: Option[Column]): Column =
          if (n == g.name || n == closers.last)
            r.map(_.getField("reps")).getOrElse(lit(0L))
          else closerOfVar.get(n) match {
            case Some(l) =>
              r.map(rr => levelCount(rr.getField("level_counts"), l))
                .getOrElse(lit(0L))
            case None =>
              require(n == finalInner,
                s"COUNT($n.ts): running inner counts materialize for the " +
                  s"FINAL inner member only ($finalInner)")
              r.map(_.getField("subs")).getOrElse(lit(0L))
          }
        def rowMeasure(mm: Measure, r: Option[Column]): Column =
          if (mm.fn.contains("CLASSIFIER"))
            r.map(_.getField("cls")).getOrElse(lit(s0.name))
          else if (spec.absentVars.contains(mm.varName)) absentMeasure(mm)
          else if (mm.varName == s0.name) {
            require(mm.field == "ts" && (mm.fn.isEmpty ||
              mm.fn.exists(f => f == "FIRST" || f == "LAST")),
              s"prefix variable ${s0.name}: bare/FIRST/LAST timestamps only")
            col("first_ts")
          } else if (mm.field != "ts" && valMembers.contains(mm.varName)) {
            // running VALUE snapshots per row (r20, the batch m56 recipe):
            // resolved from the twin's per-row vsnap member aggregates;
            // null / 0 on the synthesized prefix row (the batch convention)
            val mv = r.map(rr => element_at(rr.getField("vsnap"),
              memberVIdx(mm.varName) + 1))
            def fld(f: String): Column =
              mv.map(_.getField(f)).getOrElse(lit(null).cast("double"))
            def cntF: Column = mv.map(_.getField("cnt")).getOrElse(lit(0L))
            mm.fn match {
              case Some("SUM") => fld("sum")
              case Some("MIN") => fld("mn")
              case Some("MAX") => fld("mx")
              case Some("FIRST") => unNaN(fld("first"))
              case Some("LAST") => unNaN(fld("last"))
              case Some("AVG") => fld("sum") / cntF
              case Some("COUNT") => cntF
              case other => sys.error(s"ALL ROWS over nested group " +
                s"${g.name}: running SUM/COUNT/AVG/MIN/MAX/FIRST/LAST are " +
                s"the member VALUE measures — got ${fnName(mm)}" +
                s"(${mm.varName}.${mm.field})")
            }
          } else {
            require(mm.fn.contains("COUNT") && mm.field == "ts",
              s"streaming ALL ROWS over nested group ${g.name}: running " +
                s"COUNT is the only member measure (got " +
                s"${fnName(mm)}(${mm.varName}.${mm.field}))")
            rowCount(mm.varName, r)
          }
        val prefixStruct = struct(lit(s0.name).as("cls") +:
          col("first_ts").as("ts") +:
          spec.measures.map(m => rowMeasure(m, None).as(m.alias)): _*)
        val memberRows = transform(col("rows"), r =>
          struct(r.getField("cls").as("cls") +: r.getField("ts").as("ts") +:
            spec.measures.map(m => rowMeasure(m, Some(r)).as(m.alias)): _*))
        val rowCols = Seq("cls", "ts") ++ spec.measures.map(_.alias)
        return mdf.select(keyBack :+
            explode(concat(array(prefixStruct), memberRows)).as("__r"): _*)
          .select(spec.partitionBy.map(col) ++
            rowCols.map(n => col(s"__r.$n").as(n)): _*)
      }
      def tsBoundary(mm: Measure): Column = mm.fn match {
        case Some("FIRST") =>
          require(mm.varName == g.name || mm.varName == innerMembers.head,
            s"FIRST(${mm.varName}.ts): the chain materializes the first " +
              s"repetition's FIRST inner binding (${innerMembers.head})")
          require(!g.innerStar || mm.varName == g.name,
            s"FIRST(${mm.varName}.ts): with an inner '*' use " +
              s"FIRST(${g.name}.ts) for the group boundary")
          col("grp_first_ts")
        case Some("LAST") =>
          require(mm.varName == g.name || mm.varName == closers.last,
            s"LAST(${mm.varName}.ts): the chain materializes the last " +
              s"repetition's FINAL tail binding (${closers.last})")
          col("grp_last_ts")
        case other => sys.error(s"${fnName(mm)}(${mm.varName}.ts): " +
          "FIRST/LAST/COUNT only over nested-group timestamps")
      }
      // COUNT columns: tail closes outer reps; intermediate closers one
      // level each; any inner member counts sub-sequences
      def countCol(n: String): Column =
        if (n == closers.last) col("n_reps")
        else closerOfVar.get(n) match {
          case Some(l) => levelCount(col("level_counts"), l)
          case None => col("n_inner")
        }
      measureOut(mdf, lit(closers.last)) { mm =>
        mm.varName match {
          case n if n == s0.name =>
            require(mm.field == "ts", s"$n.${mm.field}: timestamp only")
            col("first_ts")
          case n if mm.field != "ts" && valMembers.contains(n) =>
            val mv = element_at(col("member_vals"), memberVIdx(n) + 1)
            mm.fn match {
              case Some("SUM") => mv.getField("sum")
              case Some("MIN") => mv.getField("mn")
              case Some("MAX") => mv.getField("mx")
              case Some("AVG") => mv.getField("sum") / mv.getField("cnt")
              case Some("FIRST") => unNaN(mv.getField("first"))
              case Some("LAST") => unNaN(mv.getField("last"))
              case Some("COUNT") => mv.getField("cnt")
              case _ => sys.error(s"${fnName(mm)}($n.${mm.field}): use " +
                "SUM/AVG/MIN/MAX/FIRST/LAST/COUNT")
            }
          case n if n == g.name || innerIdx.contains(n) ||
              closerOfVar.contains(n) =>
            mm.fn match {
              case Some("COUNT") => countCol(n)
              case _ => tsBoundary(mm)
            }
          case n => sys.error(s"measure over unknown variable $n")
        }
      }
    } else sys.error("streaming MATCH_RECOGNIZE supports these PATTERN " +
      "shapes: linear (plain / '?' / '{n}' / '{n,m}' / alternations), " +
      "S R+ U runs ('+', '*', '{n,}', alternation runs, PREV-self runs), " +
      "S (B C ...)+ U sequence groups, and final nested groups at any depth " +
      s"— PATTERN (${vars.map(_.name).mkString(" ")}) fits none of them; " +
      "use the StreamOps combinator API for other compositions")
  }
}
