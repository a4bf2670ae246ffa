package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkEntry

/** §4 — scale guardrails: the plans must keep the properties that matter at
  * 100 TB (scan pruning, pushdown, broadcast dims, partial aggregation,
  * whole-stage codegen). These assert on the optimized/executed plan text.
  */
class PlanQualitySpec extends AnyFunSuite with SparkTest {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect() // materialize so AQE finalizes the plan (isFinalPlan=true)
    df.queryExecution.executedPlan.toString
  }

  test("q02 pushes filters and prunes columns at the parquet scan") {
    val p = planOf("q02_filter_project")
    assert(p.contains("PushedFilters:") && p.contains("l_quantity"),
      s"expected quantity filter pushed to scan:\n$p")
    assert(!p.contains("l_partkey"), s"unused columns must not be read:\n$p")
  }

  test("q05 star join broadcasts every dimension") {
    val p = planOf("q05_multi_join")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 3, s"expected >=3 broadcast joins (region/nation/supplier):\n$p")
  }

  test("q01 aggregates partially before the shuffle (map-side combine)") {
    val p = planOf("q01_pricing_summary")
    val hashAggs = "HashAggregate".r.findAllIn(p).length
    assert(hashAggs >= 2, s"expected partial+final HashAggregate:\n$p")
    // "*(n)" prefixes mark WholeStageCodegen stages in the final plan string
    assert(p.contains("*("), s"agg pipeline must be codegen'd:\n$p")
  }

  test("d02 minhash candidate join is an equi-join on band keys, not a cross product") {
    val p = planOf("d02_minhash_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"LSH join must stay an equi-join on (band,bkey):\n$p")
  }

  test("r18 CEP additions stay cartesian-free (m51-m55)") {
    // m51 depth-3 ALL ROWS, m52 depth-4 walk (the depth-parametric
    // repAt's tagged candidate union spans SIX pre-filtered scans here),
    // m53 value-snapshot rows, m54 element-absent compile, m55
    // alternation-tiebreak refinement — every join must remain keyed; a
    // regression to a cross product would explode at corpus scale
    Seq("m51_all_rows_depth3", "m52_depth4_nested_group",
        "m53_all_rows_depth2_values", "m54_reluctant_absent",
        "m55_alternation_tiebreak").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q: unkeyed join appeared:\n${p.take(4000)}")
    }
  }

  test("m39 nested group is one keyed pass: one events scan, one shuffle, no join") {
    // the depth-2 nested-group walk reads its sub-matches and candidates
    // from ONE scan of events (one row per event and member it satisfies)
    // through ONE grouping on the key — no relational sub-match pre-pass
    val full = planOf("m39_depth2_nested_group")
    val p = full.split("== Initial Plan ==").head
    val scans = "FileScan parquet".r.findAllIn(p).length
    val shuffles = "(?m)^[\\s:+-]*Exchange ".r.findAllIn(p).length
    assert(scans == 1, s"expected one events scan, got $scans:\n$p")
    assert(!p.contains("BroadcastExchange"), s"no broadcast expected:\n$p")
    assert(!p.contains("Join"), s"no join expected:\n$p")
    assert(shuffles == 1, s"expected one shuffle exchange, got $shuffles:\n$p")
  }

  test("m13 sequence group is the depth-0 walk: no join or aggregate " +
       "below its key grouping, fewer joins than the relational chain") {
    // `S (C V)+ P`: the group walk reads one scan of events through one
    // grouping on the key; only the plain purchase step joins. The
    // relational chain it replaced had two joins (one building the
    // sub-match table, one for the purchase) and a cogroup over two sides
    val p = planOf("m13_group_pattern").split("== Initial Plan ==").head
    // the walk's subtree: every line indented deeper than its MapGroups
    val lines = p.split("\n").toSeq
    val at = lines.indexWhere(_.contains("MapGroups"))
    assert(at >= 0, s"expected the group walk's MapGroups node:\n$p")
    def depth(l: String) = l.indexWhere(ch => ch.isLetterOrDigit || ch == '*' || ch == '(')
    val below = lines.drop(at + 1).takeWhile(l => depth(l) > depth(lines(at)))
    assert(below.exists(_.contains("FileScan parquet")), s"no events scan below:\n$p")
    assert(!below.exists(l => l.contains("Join") || l.contains("Aggregate")),
      s"a join or aggregate below the walk's key grouping:\n$p")
    val joins = "Join".r.findAllIn(p).length
    assert(joins < 2, s"expected fewer joins than the relational chain's 2, got $joins:\n$p")
  }

  test("r9 CEP additions stay cartesian-free (m19-m23)") {
    // m19 group-value chain, m20 tiebreak refinement, m21 alternation-run
    // aggregate, m22 offset-run scan+segments, m23 ALL-ROWS member
    // join-back — every join must remain keyed; a regression to a cross
    // product here would explode at corpus scale
    Seq("m19_group_values", "m20_order_tiebreak", "m21_alt_group",
        "m22_prev_offset", "m23_all_rows_run").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q: unkeyed join appeared:\n${p.take(4000)}")
    }
  }

  test("r10 CEP additions stay cartesian-free (m24-m28)") {
    // m24 group ALL-ROWS generator expansion, m25/m26 tiebreak min_by
    // aggregates, m27/m28 physical-lag PREV — every join must stay keyed
    Seq("m24_all_rows_group", "m25_run_tiebreak", "m26_group_tiebreak",
        "m27_prev_foreign", "m28_prev_plain", "m29_all_rows_alt").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q: unkeyed join appeared:\n${p.take(4000)}")
    }
  }

  test("s05 knn graph stays cell-bucketed; p03 chunking is shuffle-free") {
    // the 8-centroid scoring is an INTENTIONAL broadcast cross join over
    // metadata (the s03 shape); the candidate-pair join must stay an
    // equi-join on the cell id — no true cartesian, and no MORE nested-loop
    // joins than s03's centroid scoring produces
    val p5 = planOf("s05_knn_graph")
    val p3ivf = planOf("s03_ivf_ann")
    assert(!p5.contains("CartesianProduct"), s"true cartesian appeared:\n${p5.take(4000)}")
    val bnl5 = "BroadcastNestedLoopJoin".r.findAllIn(p5).length
    val bnl3 = "BroadcastNestedLoopJoin".r.findAllIn(p3ivf).length
    assert(bnl5 <= bnl3,
      s"s05 nested-loop joins ($bnl5) must not exceed s03's centroid scoring ($bnl3)")
    // chunking adds NO shuffle of its own — only Tables.load's single-file
    // spread repartition appears, the same as any scan-only documents query
    val p3 = planOf("p03_doc_chunking")
    val pt6 = planOf("t06_regex_scan")
    val ex3 = "Exchange".r.findAllIn(p3).length
    val ex6 = "Exchange".r.findAllIn(pt6).length
    assert(ex3 <= ex6,
      s"chunking exchanges ($ex3) must not exceed the scan-only baseline ($ex6):\n${p3.take(3000)}")
  }

  test("m24 ALL-ROWS group expansion adds no join over the m13 chain") {
    // the per-repetition rows must come from generator expressions over the
    // materialized reps arrays — a join-back implementation would re-shuffle
    // the event table once per expansion. m19 is the chain WITH value binds
    // (2 bound columns vs m24's 1), so m24's join count must not exceed it.
    val p24 = planOf("m24_all_rows_group")
    val p19 = planOf("m19_group_values")
    val j24 = "Join".r.findAllIn(p24).length
    val j19 = "Join".r.findAllIn(p19).length
    assert(j24 <= j19,
      s"m24 joins ($j24) must track the m19 chain-with-binds shape ($j19)")
    assert(p24.contains("Generate"), "expected a generator-based expansion")
  }

  test("m21 alternation-run branch counts ride the run's single aggregate") {
    // the per-branch counts must be conditional aggs on the EXISTING run
    // aggregation — adding a join or shuffle per branch would scale with
    // branch count
    val p = planOf("m21_alt_group")
    val m7 = planOf("m07_match_plus")
    val joins = "HashJoin".r.findAllIn(p).length
    val joins7 = "HashJoin".r.findAllIn(m7).length
    assert(joins <= joins7 + 2,
      s"m21 joins ($joins) should track the plain-run m07 shape ($joins7):\n${p.take(3000)}")
  }

  test("interval join (w04) is an equi-join on the key with a range residual") {
    val p = planOf("w04_interval_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"interval join must shuffle on user_id only:\n$p")
  }

  test("retention self-join (a02) stays an equi-join") {
    val p = planOf("a02_retention")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"self-join must be keyed:\n$p")
  }

  test("q30 grouping sets plan uses a single Expand, no extra shuffles") {
    val p = planOf("q30_grouping_sets")
    // AQE plan toString prints final + initial plan, so one Expand ⇒ ≤2 hits
    assert("Expand".r.findAllIn(p).length <= 2,
      s"grouping sets must expand once, not once per set:\n$p")
    val hashAggs = "HashAggregate".r.findAllIn(p).length
    assert(hashAggs >= 2, s"expanded agg must still combine map-side:\n$p")
  }

  test("q32 unnest scan reads only the text column") {
    val p = planOf("q32_unnest")
    assert(p.contains("ReadSchema") && p.contains("text"),
      s"expected text in read schema:\n$p")
    assert(!p.contains("doc_id"), s"explode must not widen the scan:\n$p")
  }

  test("d05 cosine near-dup join is bucketed (no nested-loop / cartesian)") {
    val p = planOf("d05_cosine_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must be an equi-join on (band,bucket):\n$p")
  }

  test("d06 simhash band join is an equi-join (no nested-loop / cartesian)") {
    val p = planOf("d06_simhash_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"banded fingerprint join must stay keyed:\n$p")
  }

  test("d07 dup-cluster edge generation stays equi-join (no cross product)") {
    val p = planOf("d07_dup_clusters")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"CC edge build must stay keyed:\n$p")
  }

  test("d14 fuzzy decontamination stays a banded equi-join (no cross product)") {
    val p = planOf("d14_fuzzy_decontaminate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"eval x train candidates must come from the (band, bkey) equi-join:\n$p")
  }

  test("q38 histogram rank never sorts the fact table (broadcast ranks back)") {
    val p = planOf("q38_histogram_rank")
    assert(p.contains("BroadcastHashJoin"),
      s"rank columns must broadcast-join back to fact rows:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"histogram must partial-aggregate map-side:\n$p")
  }

  test("q31 rank suite computes all three window functions in ONE Window node") {
    val p = planOf("q31_rank_funcs")
    assert("Window".r.findAllIn(p).length <= 2, // Window + WindowGroupLimit-free plan
      s"same-frame rank functions must share a single Window operator:\n$p")
  }

  test("s02 multi-table LSH joins stay keyed equi-joins") {
    val p = planOf("s02_ann_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"probe/candidate joins must be equi-joins on (table,bucket):\n$p")
  }

  test("m01 MATCH_RECOGNIZE plan stays keyed (no cross product)") {
    val p = planOf("m01_match_recognize")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pattern steps must compile to keyed joins:\n$p")
  }

  test("w17 time evictor never sorts fact rows (tiny max-agg joined back)") {
    // the per-(window, key) max is one scalar per group: it must come from a
    // map-side-partial aggregate joined back as a hash join, NOT from a
    // WindowExec that sorts every fact row (the q38 pattern). The join
    // carries a shuffle_hash hint (AQE upgrades to broadcast when small)
    // because default configs would otherwise pick SortMergeJoin above the
    // broadcast threshold — the assert is "no Sort on facts", which the
    // hint guarantees in both regimes.
    val p = planOf("w17_time_evictor").split("== Initial Plan ==").head
    assert(p.contains("HashJoin"),
      s"window max must hash-join back to fact rows:\n$p")
    assert(!p.contains("Sort "), s"fact rows must never be sorted:\n$p")
  }

  test("w23 delta evictor never sorts fact rows (two hash aggs joined back)") {
    // the last element's value is resolved by two HASH aggregates (max ts,
    // then max value at that ts — the q38 refinement shape; a struct-max
    // would plan as SortAggregate over every fact row) joined back with
    // shuffle_hash: same no-Sort-on-facts contract as w17
    val p = planOf("w23_delta_evictor").split("== Initial Plan ==").head
    assert(p.contains("HashJoin"),
      s"last-element value must hash-join back to fact rows:\n$p")
    assert(!p.contains("Sort "), s"fact rows must never be sorted:\n$p")
  }

  test("w18 count evictor reuses ONE shuffle (row_number + aggregate co-partitioned)") {
    // w18's row_number sort is semantically required (last-k by time); the
    // rank and the aggregate partition by the same (window, keys), so the
    // exchange must be shared, not repeated
    val p = planOf("w18_count_evictor").split("== Initial Plan ==").head
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 1, s"w18: evictor + aggregate must share one shuffle:\n$p")
  }

  test("m13/m16/w22 group and consecutive CEP stay keyed (no cross product)") {
    // the group sub-match table and the consecutive-run segmentation must
    // compile to keyed equi-joins + keyed windows/cogroups — never a
    // cartesian or nested-loop expansion
    for (q <- Seq("m13_group_pattern", "m16_group_sql", "w22_cep_consecutive")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q: group/consecutive lowerings must stay keyed:\n$p")
    }
  }

  test("w14/m05 iterative and alternation CEP stay keyed (no cross product)") {
    for (q <- Seq("w14_cep_relative", "m05_match_alternation")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q: relative residuals/classifiers must ride the keyed join:\n$p")
    }
  }

  test("a04 scalable NTILE: every window is partitioned (no single-partition sort)") {
    // the whole point of a04 over a03: no WindowExec may receive the global
    // relation in one partition. Every Window node in the final plan must
    // carry the __bkt partition spec (per-bucket row_number), and the native
    // global ntile must be absent.
    val p = planOf("a04_rfm_scalable")
    assert(!p.contains("ntile("), s"native global NTILE must not appear:\n$p")
    val windowLines = p.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windowLines.nonEmpty && windowLines.forall(_.contains("__bkt")),
      s"every Window must partition by __bkt:\n${windowLines.mkString("\n")}")
  }

  test("w24 dynamic session stays one keyed aggregation (no extra shuffle)") {
    val p = planOf("w24_dynamic_session")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // one exchange for the keyed session aggregation (plus nothing else):
    // the per-row gap must not introduce a second shuffle. AQE's toString
    // repeats the pre-adaptive plan after "== Initial Plan ==" — count only
    // the final section.
    val exchanges =
      "Exchange hashpartitioning".r.findAllIn(p.split("== Initial Plan ==").head).length
    assert(exchanges <= 1, s"expected at most one shuffle:\n$p")
  }

  test("CEP value bindings and run lowerings never sort match or fact rows") {
    // m02 (bind payload) and m05 (alternation classifier) bind via the
    // hash min-ts + per-(key, ts) refinement tables; w14 (iterative bind)
    // refines per match with the residual re-applied — zero Sorts, like
    // m09's hash-only run aggregate.
    for (q <- Seq("m02_match_measures", "m05_match_alternation",
        "w14_cep_relative", "m09_match_run_sum", "m10_match_vshape")) {
      val p = planOf(q).split("== Initial Plan ==").head
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q: run aggregation must ride keyed equi-joins:\n$p")
      // m02/m09: fully hash-aggregated — zero Sorts. Remaining sorts are
      // candidate-level only: m05's string classifier min isn't
      // hash-aggregable (var-length buffer), so its per-(key, ts)
      // refinement table SortAggregates — over candidates, not the binding
      // join (<= 2: partial+final pair); m10's are the per-key candidate
      // segmentation WINDOW, re-computed once per candSeg reference
      // (binding, seg table, members, boundary vals — <= 4). Neither ever
      // sorts fact or match rows.
      val sorts = "Sort ".r.findAllIn(p).length
      val cap = if (q.startsWith("m10")) 4 else if (q.startsWith("m05")) 2 else 0
      assert(sorts <= cap, s"$q: expected <= $cap Sort, got $sorts:\n$p")
    }
  }

  test("d12 incremental path never rescans the corpus text (pushed doc_id filter)") {
    // the RETURNED plan is the incremental path: every scan of the documents
    // table must carry the new-batch doc_id > cutoff pushed filter (the
    // existing corpus is read only via the signature store's parquet)
    val p = planOf("d12_incremental_dedup")
    assert(p.contains("GreaterThan(doc_id"),
      s"new-batch documents scans must push doc_id > cutoff:\n$p")
    val docScans = p.linesIterator.filter(_.contains("documents.parquet")).toSeq
    assert(docScans.nonEmpty && docScans.forall(_.contains("GreaterThan(doc_id")),
      s"no documents scan may read the full corpus:\n${docScans.mkString("\n")}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"band candidate join must stay an equi-join:\n$p")
  }

  test("d15 chunk dedup: hash-only aggregation on md5 keys, no cross product") {
    // first-occurrence = two HASH aggs on ck (min doc, then min pos) — a
    // min-of-struct would plan as SortAggregate; the joins ride the ck key
    val p = planOf("d15_chunk_dedup").split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"chunk joins must stay keyed on ck:\n$p")
    assert(!p.contains("SortAggregate"),
      s"first-occurrence must be hash-aggregated (no min-of-struct):\n$p")
    assert(!p.contains("Sort "), s"nothing in d15 needs a sort:\n$p")
  }

  test("p01 packing: every window is partitioned by the pack bucket") {
    // a global greedy pack would be a single-partition running sum (the a03
    // anti-pattern); p01's cumsum must partition by bkt in every Window
    val p = planOf("p01_seq_packing")
    val windowLines = p.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windowLines.nonEmpty && windowLines.forall(_.contains("bkt")),
      s"every Window must partition by bkt:\n${windowLines.mkString("\n")}")
  }

  test("p02 mixing: the fact side joins by broadcast, never a shuffle join") {
    // the count tables are metadata-sized; the documents scan must meet
    // them via BroadcastHashJoin (the 1-row totals ride a broadcast nested
    // loop by design) — a SortMergeJoin would shuffle the corpus
    val p = planOf("p02_domain_mix").split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"facts must not shuffle for metadata joins:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"per-group counts must broadcast:\n$p")
  }

  test("r11 graph analytics stay cartesian-free; i10 broadcasts the group map") {
    // summarization: the id→rep mapping is built from a BROADCAST of the
    // tiny per-value group table; edges join it by key — no cross product
    val p10 = planOf("i10_summarization")
    assert(p10.contains("BroadcastHashJoin"),
      s"group map must broadcast into the mapping join:\n$p10")
    assert(!p10.contains("CartesianProduct"), s"no cartesian:\n$p10")
    // community detection / metrics / checksum / clustering stats: keyed
    // joins + hash aggregates only (the single-row analytics end in one
    // legitimate tiny cross of two scalar aggregates)
    for (n <- Seq("i11_community_detection", "i13_edge_metrics")) {
      val p = planOf(n)
      assert(!p.contains("CartesianProduct"), s"$n must stay keyed:\n$p")
    }
  }

  test("entry smoke: flagship query returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("f12 DDL tables keep scan pruning and filter pushdown (the front door " +
       "costs no plan quality)") {
    val p = planOf("f12_ddl_script")
    // the declared-subset schema prunes the orders scan to the 4 declared
    // columns — none of the undeclared ones may appear anywhere in the plan
    assert(!p.contains("o_orderdate") && !p.contains("o_orderstatus"),
      s"undeclared columns must not be read through a DDL table:\n$p")
    // a WHERE through the registered view still pushes to the parquet scan
    import graft.plans.FlinkDdl
    FlinkDdl.execute(spark,
      s"""CREATE TABLE ddl_pq_orders (o_orderkey BIGINT, o_totalprice DOUBLE)
         |WITH ('connector' = 'filesystem', 'path' = '$sfDir/orders.parquet',
         |      'format' = 'parquet')""".stripMargin)
    val df = spark.sql(
      "SELECT o_orderkey FROM ddl_pq_orders WHERE o_totalprice > 100000.0")
    df.collect()
    val p2 = df.queryExecution.executedPlan.toString
    assert(p2.contains("PushedFilters:") && p2.contains("o_totalprice"),
      s"filter must reach the scan through the DDL view:\n$p2")
  }

  test("TPC-H sweep plans: h01 prunes + pushes through the text, " +
       "h03/h21 stay cartesian-free with no hard broadcast hints") {
    // h01: the shipdate predicate reaches the parquet scan and only the 7
    // referenced lineitem columns are read
    val p1 = planOf("h01_tpch_q01")
    assert(p1.contains("PushedFilters:") && p1.contains("l_shipdate"),
      s"shipdate filter must reach the scan:\n$p1")
    assert(!p1.contains("l_orderkey"), s"unused columns must not be read:\n$p1")
    // h03 (3-way star) and h21 (4-way + EXISTS/NOT-EXISTS): every join is
    // keyed — the synthesized-column CTEs must not block join planning
    for (n <- Seq("h03_tpch_q03", "h21_tpch_q21", "h19_tpch_q19")) {
      val p = planOf(n)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$n must plan keyed joins only:\n$p")
    }
    // no hard broadcast hints anywhere in the sweep — AQE picks broadcast
    // at THIS scale, sort-merge at 100 TB; a hard hint would throw there
    for (n <- Seq("h03_tpch_q03", "h21_tpch_q21")) {
      val df = SparkEntry.queries(n)(spark, sfDir)
      assert(!df.queryExecution.analyzed.toString.contains("ResolvedHint"), n)
    }
  }
}
