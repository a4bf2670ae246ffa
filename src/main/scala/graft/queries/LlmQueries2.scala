package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{CacheScope, Iterate, TextDedup}
import graft.sources.Tables

/** §2.3/§2.5 continued — duplicate-cluster extraction and text cleaning.
  *
  * d07 closes the dedup loop: candidate pairs (d02) → verified near-dup edges
  * (d04's Jaccard) → connected components (the reference's Gelly/delta-
  * iteration analog, flink-libraries/flink-gelly ConnectedComponents) → one
  * canonical doc per cluster. The DuckDB oracle replays the component step
  * with a recursive transitive-closure CTE — exact cross-engine agreement.
  */
object LlmQueries2 {
  type Q = (SparkSession, String) => DataFrame
  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  private val JaccardMin = 0.5

  // ---------- d07: near-dup clusters via connected components ----------
  private val d07: Q = (s, dir) => CacheScope { scope =>
    val cand = TextDedup.minhashCandidates(docs(s, dir), "doc_id", "text",
      5, LlmQueries.Bands, LlmQueries.RowsPerBand)
    // cached: joined as BOTH sides (ga/gb) below, so without it the
    // shingle+distinct lineage would run once per side
    val grams = scope.keep(docs(s, dir)
      .select(col("doc_id"), array_distinct(TextDedup.shingles(col("text"), 3)).as("g")))
    val ga = grams.select(col("doc_id").as("doc_a"), col("g").as("ga"))
    val gb = grams.select(col("doc_id").as("doc_b"), col("g").as("gb"))
    val edges = cand.join(ga, "doc_a").join(gb, "doc_b")
      .filter(TextDedup.jaccardOfDistinct(col("ga"), col("gb")) >= JaccardMin)
      .select(col("doc_a"), col("doc_b"))
    val cc = Iterate.connectedComponents(edges, "doc_a", "doc_b")
    cc.select(col("id").as("doc_id"), col("component"))
  }
  private val d07Sql =
    s"""WITH RECURSIVE ${LlmQueries.bandsCte},
       |g AS (SELECT c.doc_a, c.doc_b,
       |       list_distinct(${LlmQueries.shingleSql("da.text", 3)}) AS ga,
       |       list_distinct(${LlmQueries.shingleSql("db.text", 3)}) AS gb
       |      FROM cand c JOIN documents da ON da.doc_id = c.doc_a
       |                  JOIN documents db ON db.doc_id = c.doc_b),
       |e AS (SELECT doc_a, doc_b FROM g
       |      WHERE len(list_intersect(ga, gb)) * 1.0 / len(list_distinct(ga || gb)) >= $JaccardMin),
       |sym AS (SELECT doc_a AS src, doc_b AS dst FROM e
       |        UNION SELECT doc_b, doc_a FROM e),
       |reach(a, b) AS (SELECT src, dst FROM sym
       |        UNION SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src)
       |SELECT a AS doc_id, CAST(least(a, min(b)) AS BIGINT) AS component
       |FROM reach GROUP BY a""".stripMargin

  // ---------- t05: stopword scrub (training-data text cleaning) ----------
  private val t05: Q = (s, dir) =>
    docs(s, dir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("kept", expr("filter(toks, t -> t NOT IN ('a', 'the'))"))
      .select(col("doc_id"),
        (size(col("toks")) - size(col("kept"))).as("n_removed"),
        length(array_join(col("kept"), " ")).as("clean_len"),
        md5(array_join(col("kept"), " ")).as("clean_hash"))
  private val t05Sql =
    """SELECT doc_id,
      | CAST(len(string_split(text, ' '))
      |   - len(list_filter(string_split(text, ' '), t -> t NOT IN ('a', 'the'))) AS INT) AS n_removed,
      | CAST(length(array_to_string(list_filter(string_split(text, ' '),
      |   t -> t NOT IN ('a', 'the')), ' ')) AS INT) AS clean_len,
      | md5(array_to_string(list_filter(string_split(text, ' '),
      |   t -> t NOT IN ('a', 'the')), ' ')) AS clean_hash
      |FROM documents""".stripMargin

  // ---------- d08: end-to-end dedup verdict ----------
  // The decision table a training-data pipeline actually filters by: every
  // document, its canonical representative (min doc_id of its near-dup
  // cluster, itself when unique), and the keep/drop verdict.
  private val d08: Q = (s, dir) => {
    val cc = d07(s, dir) // (doc_id, component)
    docs(s, dir).select(col("doc_id"))
      .join(cc.withColumnRenamed("doc_id", "cc_id"), col("doc_id") === col("cc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("canonical"),
        (coalesce(col("component"), col("doc_id")) === col("doc_id")).as("keep"))
  }
  private val d08Sql = {
    // d07Sql already carries the full WITH RECURSIVE chain; wrap it as a
    // subquery and left-join every document against it
    s"""SELECT d.doc_id,
       | coalesce(r.component, d.doc_id) AS canonical,
       | coalesce(r.component, d.doc_id) = d.doc_id AS keep
       |FROM documents d LEFT JOIN ($d07Sql) r ON r.doc_id = d.doc_id""".stripMargin
  }

  // ---------- i01: k-means bulk iteration, oracle-verified ----------
  // Iterate.kmeans (the reference's IterativeDataSet analog) with k=4 and 2
  // Lloyd steps; the oracle unrolls both supersteps in SQL. Determinism:
  // centroids init from the 4 lowest vec_ids, assignment ties break on cid,
  // centroid means rounded at 6 dp on both engines.
  private val i01: Q = (s, dir) =>
    Iterate.kmeans(Tables.load(s, dir, "embeddings"), "vec_id", "embedding", k = 4, iters = 2)
      .select(col("id").as("vec_id"), col("cluster"))
  private val i01Sql = {
    val d2 = // same association order as Iterate.kmeans sqDist: (aa - 2ab) + bb
      "list_sum([x*x for x in e.v]) - 2.0*list_sum([e.v[j]*c.cv[j] " +
        "for j in generate_series(1, len(e.v))]) + list_sum([x*x for x in c.cv])"
    def assign(cTbl: String, name: String): String =
      s"""$name AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
         |    ORDER BY $d2, c.cid) AS rn
         |  FROM e CROSS JOIN $cTbl c) WHERE rn = 1)""".stripMargin
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v AS cv
       |       FROM e ORDER BY vec_id LIMIT 4),
       |${assign("c0", "a1")},
       |c1 AS (SELECT cid, list(mx ORDER BY j) AS cv FROM (
       |        SELECT a.cid, j, round(avg(e.v[j]), 6) AS mx
       |        FROM a1 a JOIN e USING (vec_id)
       |        CROSS JOIN (SELECT unnest(generate_series(1,
       |          (SELECT len(v) FROM e LIMIT 1))) AS j) js
       |        GROUP BY a.cid, j) GROUP BY cid),
       |${assign("c1", "a2")}
       |SELECT vec_id, CAST(cid AS INT) AS cluster FROM a2""".stripMargin
  }

  // ---------- i02: PageRank bulk iteration, oracle-verified ----------
  // Proves the Iterate substrate generalizes past CC (the reference ships
  // Gelly PageRank, flink-libraries/flink-gelly/.../linkanalysis/PageRank
  // .java). Graph: supplier ↔ customer edges through shared orders (customer
  // keys offset by 100000 to disjoint the id spaces), 3 fixed iterations.
  // Determinism: per-iteration ranks rounded at 9 dp on both engines so
  // partial-sum order cannot drift the fixpoint; final output at 6 dp.
  private val PrIters = 3
  private val PrDamping = 0.85
  private val i02: Q = (s, dir) => {
    val li = Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val o = Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val base = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("s"), (col("o_custkey") + 100000L).as("c"))
    // both directions explode out of ONE evaluation of the base join (a
    // union of two projections would run the lineitem-orders join twice)
    val edges = base.select(explode(array(
        struct(col("s").as("src"), col("c").as("dst")),
        struct(col("c").as("src"), col("s").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    Iterate.pageRank(edges, "src", "dst", iters = PrIters, damping = PrDamping)
      .select(col("id"), round(col("rank"), 6).as("pagerank"))
  }
  private val i02Sql = {
    // emit the exact IEEE constants the Spark plan uses (Java double toString
    // round-trips, so "0.15000000000000002" parses back bit-identical)
    val tele = (1.0 - PrDamping).toString
    val damp = PrDamping.toString
    def iter(prev: String, name: String): String =
      s"""$name AS (SELECT v.id,
         |  round($tele::DOUBLE / nn.n + $damp::DOUBLE * coalesce(sum(p.rank / o.odeg), 0.0), 9) AS rank
         |  FROM v CROSS JOIN nn
         |  LEFT JOIN e ON e.dst = v.id
         |  LEFT JOIN $prev p ON p.id = e.src
         |  LEFT JOIN outd o ON o.src = e.src
         |  GROUP BY v.id, nn.n)""".stripMargin
    val iters = (1 to PrIters).map(i => iter(s"r${i - 1}", s"r$i")).mkString(",\n")
    s"""WITH b AS (SELECT DISTINCT l_suppkey AS s, 100000 + o_custkey AS c
       |     FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (SELECT s AS src, c AS dst FROM b UNION SELECT c, s FROM b),
       |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
       |nn AS (SELECT count(*)::DOUBLE AS n FROM v),
       |outd AS (SELECT src, count(*) AS odeg FROM e GROUP BY src),
       |r0 AS (SELECT id, round(1.0::DOUBLE / nn.n, 9) AS rank FROM v CROSS JOIN nn),
       |$iters
       |SELECT id, round(rank, 6) AS pagerank FROM r$PrIters""".stripMargin
  }

  // ---------- i03: single-source shortest paths (Bellman-Ford rounds) ----------
  // Gelly SingleSourceShortestPaths analog on the same substrate as i01/i02.
  // Edge weights are exact binary fractions (1 + (dst%8)/8), so min-plus path
  // sums are bit-identical across engines with NO rounding; unreachable
  // vertices stay NULL. Oracle unrolls all 4 relaxation rounds.
  private val SsspIters = 4
  private val i03: Q = (s, dir) => {
    val li = Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val o = Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val base = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("s"), (col("o_custkey") + 100000L).as("c"))
    // both directions explode out of ONE evaluation of the base join (a
    // union of two projections would run the lineitem-orders join twice)
    val edges = base.select(explode(array(
        struct(col("s").as("src"), col("c").as("dst")),
        struct(col("c").as("src"), col("s").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .withColumn("w", lit(1.0) + (col("dst") % 8).cast("double") * lit(0.125))
    Iterate.sssp(edges, "src", "dst", "w", sourceId = 1L, iters = SsspIters)
  }
  private val i03Sql = {
    def round(prev: String, name: String): String =
      s"""$name AS (SELECT id, min(dist) AS dist FROM (
         |  SELECT id, dist FROM $prev
         |  UNION ALL
         |  SELECT e.dst AS id, r.dist + e.w AS dist
         |  FROM $prev r JOIN e ON e.src = r.id WHERE r.dist IS NOT NULL) GROUP BY id)""".stripMargin
    val rounds = (1 to SsspIters).map(i => round(s"r${i - 1}", s"r$i")).mkString(",\n")
    s"""WITH b AS (SELECT DISTINCT l_suppkey AS s, 100000 + o_custkey AS c
       |     FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e0 AS (SELECT s AS src, c AS dst FROM b UNION SELECT c, s FROM b),
       |e AS (SELECT src, dst, 1.0::DOUBLE + (dst % 8)::DOUBLE * 0.125 AS w FROM e0),
       |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
       |r0 AS (SELECT id, CASE WHEN id = 1 THEN 0.0::DOUBLE END AS dist FROM v),
       |$rounds
       |SELECT id, dist FROM r$SsspIters""".stripMargin
  }

  // ---------- i04: delta-iteration (workset) SSSP ----------
  // Same graph, rounds, and result as i03, but each round relaxes only the
  // FRONTIER (Gelly delta-iteration semantics) — the oracle is i03's,
  // which is the point: workset and bulk rounds agree exactly.
  private val i04: Q = (s, dir) => {
    val li = Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val o = Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val base = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("s"), (col("o_custkey") + 100000L).as("c"))
    // both directions explode out of ONE evaluation of the base join (a
    // union of two projections would run the lineitem-orders join twice)
    val edges = base.select(explode(array(
        struct(col("s").as("src"), col("c").as("dst")),
        struct(col("c").as("src"), col("s").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .withColumn("w", lit(1.0) + (col("dst") % 8).cast("double") * lit(0.125))
    Iterate.ssspWorkset(edges, "src", "dst", "w", sourceId = 1L, iters = SsspIters)
  }

  // ---------- i22: GENERIC vertex-centric (Pregel) combinator ----------
  // The same SSSP as i03, but expressed through the USER-FACING
  // programming model (Iterate.vertexCentric — the Gelly
  // runVertexCentricIteration analog): message = state + w, merge = min,
  // update = least(old, merged), halt on fixpoint. The oracle is i03's
  // unrolled-CTE chain — the point: a custom algorithm written against
  // the generic combinator produces bit-identical results to the
  // dedicated library operator (fixpoint early-exit is safe for min-plus:
  // once a Bellman-Ford round changes nothing, nothing ever changes).
  private val i22: Q = (s, dir) => CacheScope { scope =>
    val li = Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val o = Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val base = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("s"), (col("o_custkey") + 100000L).as("c"))
    // cached: the builder consumes this frame several times (vertex
    // derivation + the combinator's own edge materialization) — without
    // the cache each consumer re-runs the lineitem⋈orders join
    val edges = scope.keep(base.select(explode(array(
        struct(col("s").as("src"), col("c").as("dst")),
        struct(col("c").as("src"), col("s").as("dst")))).as("e"))
      .select(col("e.src").cast("long").as("src"), col("e.dst").cast("long").as("dst"))
      .distinct()
      .withColumn("w", lit(1.0) + (col("dst") % 8).cast("double") * lit(0.125)))
    // one cached pass (tagged explode) instead of a two-select union —
    // identical distinct id set (the r20 Iterate-internal verts convention)
    val verts = edges.select(explode(array(col("src"), col("dst"))).as("id"))
      .distinct()
      .select(col("id"), when(col("id") === 1L, lit(0.0))
        .otherwise(lit(null).cast("double")).as("dist"))
    Iterate.vertexCentric(edges, "src", "dst", verts, "id", "dist",
        message = _ => col("state") + col("w"),
        merge = min(col("msg")),
        update = _ => least(col("state"), col("msg")),
        maxSupersteps = SsspIters)
      .select(col("id"), col("state").as("dist"))
  }

  // ---------- i23: vertex-centric PageRank (updateAlways mode) ----------
  // The same PageRank as i02, but expressed through the generic combinator
  // with `updateAlways = true` — the mode PageRank-CLASS algorithms need:
  // the damping term applies to EVERY vertex each superstep, inbox or not
  // (the reference's ComputeFunction may setNewVertexValue regardless of
  // messages). Out-degree rides the edge frame as a plain column (one
  // pre-join before the loop, partitioned away with the edges), message =
  // state/odeg, merge = sum, update = round((1-d)/n + d·coalesce(msg,0), 9)
  // — i02's exact per-round arithmetic, so the oracle is i02's
  // unrolled-CTE chain verbatim. haltOnFixpoint stays OFF: PageRank is a
  // fixed-round schedule, not a monotone fixpoint.
  private val i23: Q = (s, dir) => CacheScope { scope =>
    val li = Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val o = Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val base = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("s"), (col("o_custkey") + 100000L).as("c"))
    // cached: outd, the odeg-carrying edge frame, the vertex set, the
    // driver count AND the combinator's edge materialization all consume
    // this frame — uncached, each re-runs the lineitem⋈orders join
    // (~2× the whole query's cost, A/B-measured)
    val edges0 = scope.keep(base.select(explode(array(
        struct(col("s").as("src"), col("c").as("dst")),
        struct(col("c").as("src"), col("s").as("dst")))).as("e"))
      .select(col("e.src").cast("long").as("src"), col("e.dst").cast("long").as("dst"))
      .distinct())
    val outd = edges0.groupBy("src").agg(count(lit(1)).as("odeg"))
    val edges = edges0.join(outd, "src")
    // one cached pass (tagged explode) instead of a two-select union —
    // identical distinct id set (the r20 Iterate-internal verts convention)
    val verts = edges0.select(explode(array(col("src"), col("dst"))).as("id"))
      .distinct()
    val n = verts.count()
    val init = verts.select(col("id"),
      round(lit(1.0) / lit(n), 9).as("rank"))
    Iterate.vertexCentric(edges, "src", "dst", init, "id", "rank",
        message = _ => col("state") / col("odeg"),
        merge = sum(col("msg")),
        update = _ => round(lit(1.0 - PrDamping) / lit(n) +
          lit(PrDamping) * coalesce(col("msg"), lit(0.0)), 9),
        maxSupersteps = PrIters, haltOnFixpoint = false, updateAlways = true)
      .select(col("id"), round(col("state"), 6).as("pagerank"))
  }

  // ---------- shared co-purchase part-graph edge builders ----------
  // Undirected: ONE lineitem scan, each order's items grouped and the pairs
  // expanded in memory (orders hold a handful of lines — the per-order
  // expansion is O(k²) with tiny k, and the 100 TB shape is one shuffle
  // keyed by the order id). At sf0.1 (4 cores, warm) it beats the
  // self-join below: i12 1.6–1.8 s against 2.8–2.9 s, i13 2.4–2.6 against
  // 3.3, although the self-join compiles fewer classes. The DuckDB oracles
  // keep the self-join spelling — same pairs, independently derived.
  private[graft] def partEdgesUndirected(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey").cast("long").as("pk"))
      .groupBy("l_orderkey").agg(collect_list(col("pk")).as("xs"))
      .select(explode(expr(
        "flatten(transform(xs, a -> filter(transform(xs, b -> " +
        "IF(a < b, struct(a AS src, b AS dst), " +
        "CAST(null AS struct<src:bigint,dst:bigint>))), x -> x IS NOT NULL)))"))
        .as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))

  // Directed: a self-join of two lineitem scans on the order id with the
  // pair predicate as its residual. The per-order expansion of (line, part)
  // structs through nested interpreted lambdas cost more here: at sf0.1
  // (4 cores, warm) i17 11.1 → 10.2 s, i18 4.3 → 2.8 s and i21 14.5 →
  // 12.3 s with the join, and less task CPU. Like the DuckDB oracles'
  // join, a null order id pairs nothing.
  private[graft] def partEdgesDirected(s: SparkSession, dir: String): DataFrame = {
    def side(alias: String) = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber").as("ln"),
        col("l_partkey").cast("long").as("pk")).as(alias)
    side("a").join(side("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.ln") < col("b.ln") && col("a.pk") =!= col("b.pk"))
      .select(col("a.pk").as("src"), col("b.pk").as("dst"))
  }

  // ---------- i05: triangle counts + local clustering coefficient ----------
  // Gelly TriangleListing / LocalClusteringCoefficient (flink-gelly
  // clustering/undirected) on the PART co-occurrence graph (parts sharing
  // an order — parts outnumber suppliers 20:1, so the graph stays SPARSE;
  // the supplier variant is near-complete and degenerate, and the
  // bipartite i02/i03 graph has no triangles by construction). Fully
  // declarative — no iteration: degree-oriented wedge join
  // (`Iterate.triangleCounts`), O(|E|^1.5) worst case instead of the
  // hub-quadratic naive join. Oracle: the same orient/wedge/close joins
  // in SQL.
  private val i05: Q = (s, dir) => {
    val pairs = partEdgesUndirected(s, dir)
    Iterate.triangleCounts(pairs, "src", "dst")
  }
  private val i05Sql =
    """WITH e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |     FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      |       AND a.l_partkey < b.l_partkey),
      |deg AS (SELECT id, count(*) AS deg FROM
      |        (SELECT u AS id FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
      |ed AS (SELECT e.u, e.v, du.deg AS du, dv.deg AS dv
      |       FROM e JOIN deg du ON du.id = e.u JOIN deg dv ON dv.id = e.v),
      |o AS (SELECT CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS src,
      |             CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS dst,
      |             CASE WHEN du < dv OR (du = dv AND u < v) THEN dv ELSE du END AS ddeg
      |      FROM ed),
      |w AS (SELECT o1.src AS apex, o1.dst AS a, o2.dst AS b
      |      FROM o o1 JOIN o o2 ON o1.src = o2.src
      |        AND (o1.ddeg < o2.ddeg OR (o1.ddeg = o2.ddeg AND o1.dst < o2.dst))),
      |tri AS (SELECT w.apex AS x, w.a AS y, w.b AS z
      |        FROM w JOIN o ON o.src = w.a AND o.dst = w.b),
      |pv AS (SELECT id, count(*) AS tri FROM
      |       (SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
      |        UNION ALL SELECT z FROM tri) GROUP BY 1)
      |SELECT d.id, d.deg AS degree,
      |       CAST(coalesce(pv.tri, 0) AS BIGINT) AS n_triangles,
      |       CASE WHEN d.deg >= 2 THEN
      |         round(coalesce(pv.tri, 0) * 2.0 / (d.deg * (d.deg - 1)), 6)
      |       ELSE 0.0 END AS lcc
      |FROM deg d LEFT JOIN pv ON pv.id = d.id""".stripMargin

  // ---------- i06: community detection via label propagation ----------
  // Gelly LabelPropagation (flink-gelly/.../library/LabelPropagation.java)
  // on the i02/i03 supplier↔customer graph, 3 synchronous supersteps:
  // adopt the most frequent in-neighbor label, frequency ties to the
  // HIGHEST label, top-frequency-1 ties include the own label (the
  // reference gather function's exact semantics — deterministic despite
  // its HashMap iteration, so the oracle unrolls every superstep).
  private val LpIters = 3
  private val i06: Q = (s, dir) => {
    val li = Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val o = Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val base = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("s"), (col("o_custkey") + 100000L).as("c"))
    // both directions explode out of ONE evaluation of the base join (a
    // union of two projections would run the lineitem-orders join twice)
    val edges = base.select(explode(array(
        struct(col("s").as("src"), col("c").as("dst")),
        struct(col("c").as("src"), col("s").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    Iterate.labelPropagation(edges, "src", "dst", iters = LpIters)
      .select(col("id"), col("lab").as("community"))
  }
  private val i06Sql = {
    def step(prev: String, k: Int): String =
      s"""f$k AS (SELECT e.dst AS id, p.lab, count(*) AS cnt
         |       FROM e JOIN $prev p ON p.id = e.src GROUP BY 1, 2),
         |t$k AS (SELECT id, max(cnt) AS fstar,
         |         struct_extract(max({'c': cnt, 'l': lab}), 'l') AS toplab
         |        FROM f$k GROUP BY 1),
         |l$k AS (SELECT l.id, CASE WHEN t.toplab IS NULL THEN l.lab
         |                          WHEN t.fstar = 1 THEN greatest(l.lab, t.toplab)
         |                          ELSE t.toplab END AS lab
         |        FROM $prev l LEFT JOIN t$k t ON t.id = l.id)""".stripMargin
    val steps = (1 to LpIters).map(k => step(s"l${k - 1}", k)).mkString(",\n")
    s"""WITH b AS (SELECT DISTINCT l_suppkey AS s, 100000 + o_custkey AS c
       |     FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (SELECT s AS src, c AS dst FROM b UNION SELECT c, s FROM b),
       |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
       |l0 AS (SELECT id, id AS lab FROM v),
       |$steps
       |SELECT id, lab AS community FROM l$LpIters""".stripMargin
  }

  // ---------- i07: neighborhood Jaccard similarity ----------
  // Gelly JaccardIndex (flink-gelly/.../library/similarity/
  // JaccardIndex.java) over the part → order bipartite INCIDENCE:
  // part-pair similarity by shared orders (the market-basket shape; the
  // common-neighbor grouping is Gelly's own generateGroupPairs).
  // Integer-exact shared/union counts; the score is one IEEE division of
  // integer operands — bit-identical cross-engine, no rounding.
  private val i07: Q = (s, dir) => {
    val inc = Tables.load(s, dir, "lineitem")
      .select(col("l_partkey").as("p"), col("l_orderkey").as("o"))
    Iterate.jaccardIndex(inc, "p", "o", minShared = 2L)
  }
  private val i07Sql =
    """WITH inc AS (SELECT DISTINCT l_partkey AS p, l_orderkey AS o FROM lineitem),
      |deg AS (SELECT p, count(*) AS deg FROM inc GROUP BY 1),
      |sh AS (SELECT a.p AS u, b.p AS v, count(*) AS shared
      |       FROM inc a JOIN inc b ON a.o = b.o AND a.p < b.p
      |       GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT sh.u, sh.v, shared,
      |       CAST(da.deg + db.deg - shared AS BIGINT) AS dist_union,
      |       CAST(shared AS DOUBLE) / CAST(da.deg + db.deg - shared AS DOUBLE) AS score
      |FROM sh JOIN deg da ON da.p = sh.u JOIN deg db ON db.p = sh.v""".stripMargin

  // ---------- i08: Adamic-Adar similarity ----------
  // Gelly AdamicAdar (flink-gelly/.../library/similarity/AdamicAdar.java):
  // Σ 1/ln(deg(shared neighbor)) — rare shared orders weigh more. The
  // per-term weight is rounded and ×10⁶-scaled to an exact integer BEFORE
  // the per-pair sum (float Σ order-independence — the engine's
  // scaled-integer convention), divided back to DOUBLE once.
  private val i08: Q = (s, dir) => {
    val inc = Tables.load(s, dir, "lineitem")
      .select(col("l_partkey").as("p"), col("l_orderkey").as("o"))
    Iterate.adamicAdar(inc, "p", "o", minShared = 2L)
  }
  private val i08Sql =
    """WITH inc AS (SELECT DISTINCT l_partkey AS p, l_orderkey AS o FROM lineitem),
      |od AS (SELECT o, CAST(round(1000000.0 / ln(CAST(count(*) AS DOUBLE)))
      |                 AS BIGINT) AS w6
      |       FROM inc GROUP BY 1 HAVING count(*) >= 2)
      |SELECT a.p AS u, b.p AS v, count(*) AS shared,
      |       CAST(sum(od.w6) AS DOUBLE) / 1000000.0 AS aa_score
      |FROM inc a JOIN inc b ON a.o = b.o AND a.p < b.p
      |JOIN od ON od.o = a.o
      |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin

  // ---------- i09: HITS hubs and authorities ----------
  // Gelly HITS (flink-gelly/.../library/linkanalysis/HITS.java) on the
  // DIRECTED supplier→customer graph (suppliers = hubs, customers =
  // authorities): alternating L2-normalized power iteration, every score
  // rounded 9 dp per superstep so the oracle can unroll exactly (the
  // global norm's cross-engine drift is ~1e-13 relative — far inside the
  // pin).
  private val HitsIters = 2
  private val i09: Q = (s, dir) => {
    val li = Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val o = Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val edges = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("src"), (col("o_custkey") + 100000L).as("dst"))
    Iterate.hits(edges, "src", "dst", iters = HitsIters)
  }
  private val i09Sql = {
    def step(prev: String, k: Int): String =
      s"""ar$k AS (SELECT v.id, coalesce(sum(p.hub), 0.0) AS raw
         |        FROM v LEFT JOIN e ON e.dst = v.id
         |        LEFT JOIN $prev p ON p.id = e.src GROUP BY v.id),
         |an$k AS (SELECT sqrt(sum(raw * raw)) AS nrm FROM ar$k),
         |a$k AS (SELECT id, round(raw / nrm, 9) AS auth FROM ar$k CROSS JOIN an$k),
         |hr$k AS (SELECT v.id, coalesce(sum(a.auth), 0.0) AS raw
         |        FROM v LEFT JOIN e ON e.src = v.id
         |        LEFT JOIN a$k a ON a.id = e.dst GROUP BY v.id),
         |hn$k AS (SELECT sqrt(sum(raw * raw)) AS nrm FROM hr$k),
         |s$k AS (SELECT h.id, round(h.raw / hn.nrm, 9) AS hub, a.auth
         |        FROM hr$k h CROSS JOIN hn$k hn JOIN a$k a ON a.id = h.id)""".stripMargin
    val steps = (1 to HitsIters).map(k => step(s"s${k - 1}", k)).mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT l_suppkey AS src, 100000 + o_custkey AS dst
       |     FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
       |s0 AS (SELECT id, 1.0::DOUBLE AS hub, 0.0::DOUBLE AS auth FROM v),
       |$steps
       |SELECT id, hub, auth FROM s$HitsIters""".stripMargin
  }

  // ---------- i10: graph summarization ----------
  // Gelly Summarization (flink-gelly/.../library/Summarization.java):
  // condense the supplier→customer order graph by NATION — each output
  // vertex is a nation group (min-id representative + member count), each
  // output edge counts same-priority orders between two nation groups
  // (self-group edges = intra-nation trade, the reference's example
  // shape). Fully declarative: one broadcast group map, two keyed joins,
  // one hash agg.
  private val i10: Q = (s, dir) => {
    val sup = Tables.load(s, dir, "supplier")
      .select(col("s_suppkey").as("id"), col("s_nationkey").as("vv"))
    val cust = Tables.load(s, dir, "customer")
      .select((col("c_custkey") + 100000L).as("id"), col("c_nationkey").as("vv"))
    val li = Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
    val edges = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("src"), (col("o_custkey") + 100000L).as("dst"),
        col("o_orderpriority").as("ev"))
    Iterate.summarization(sup.union(cust), "id", "vv", edges, "src", "dst", "ev")
  }
  private val i10Sql =
    """WITH v AS (SELECT s_suppkey AS id, s_nationkey AS vv FROM supplier
      |     UNION SELECT c_custkey + 100000, c_nationkey FROM customer),
      |g AS (SELECT vv, min(id) AS rep, count(*) AS gsize FROM v GROUP BY 1),
      |m AS (SELECT v.id, g.rep, g.vv, g.gsize FROM v JOIN g USING (vv)),
      |e AS (SELECT l_suppkey AS es, o_custkey + 100000 AS ed,
      |             o_orderpriority AS ev
      |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
      |SELECT ms.rep AS src, ms.vv AS src_value, ms.gsize AS src_group_size,
      |       md.rep AS dst, md.vv AS dst_value, md.gsize AS dst_group_size,
      |       e.ev AS edge_value, count(*) AS edge_count
      |FROM e JOIN m ms ON ms.id = e.es JOIN m md ON md.id = e.ed
      |GROUP BY 1, 2, 3, 4, 5, 6, 7""".stripMargin

  // ---------- i16: summarization OUTPUT VERTICES (isolated groups incl.) ----------
  // The vertex half of Gelly Summarization (Summarization.java emits ALL
  // groups as output vertices, including groups whose members have no
  // incident edges — which i10's edge relation cannot carry): one hash
  // aggregate over the nation-grouped supplier∪customer vertex table.
  private val i16: Q = (s, dir) => {
    val sup = Tables.load(s, dir, "supplier")
      .select(col("s_suppkey").as("id"), col("s_nationkey").as("vv"))
    val cust = Tables.load(s, dir, "customer")
      .select((col("c_custkey") + 100000L).as("id"), col("c_nationkey").as("vv"))
    Iterate.summarizationVertices(sup.union(cust), "id", "vv")
  }
  private val i16Sql =
    """WITH v AS (SELECT s_suppkey AS id, s_nationkey AS vv FROM supplier
      |     UNION SELECT c_custkey + 100000, c_nationkey FROM customer)
      |SELECT min(id) AS id, vv AS value, count(*) AS group_size
      |FROM v GROUP BY vv""".stripMargin

  // ---------- i17: DIRECTED clustering stats + 16-type triadic census ----------
  // The Gelly clustering/directed analytics (TriadicCensus,
  // Local/Average/GlobalClusteringCoefficient — flink-gelly/.../library/
  // clustering/directed/) on a genuinely DIRECTED part graph: edge a→b
  // when parts co-occur in an order with a's line number below b's —
  // opposite orders across orders create a uni/bi mix. Oracle: the same
  // pair-flag + wedge-triangle + subtraction-chain pipeline in SQL (every
  // aggregate CAST to BIGINT — DuckDB sums are HUGEINT otherwise).
  private val i17: Q = (s, dir) => {
    val e = partEdgesDirected(s, dir)
    Iterate.directedClusteringStats(e, "src", "dst")
  }
  private val i17Sql =
    """WITH de AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |     FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      |       AND a.l_linenumber < b.l_linenumber AND a.l_partkey <> b.l_partkey),
      |pr AS (SELECT least(src, dst) AS u, greatest(src, dst) AS v,
      |              max(CASE WHEN src < dst THEN 1 ELSE 0 END) AS fw,
      |              max(CASE WHEN src > dst THEN 1 ELSE 0 END) AS bw
      |       FROM de GROUP BY 1, 2),
      |deg AS (SELECT id, count(*) AS deg FROM
      |        (SELECT u AS id FROM pr UNION ALL SELECT v FROM pr) GROUP BY 1),
      |od AS (SELECT src AS id, count(*) AS od FROM de GROUP BY 1),
      |ind AS (SELECT dst AS id, count(*) AS ind FROM de GROUP BY 1),
      |vs AS (SELECT d.id, d.deg, d.deg - coalesce(i.ind, 0) AS us,
      |        d.deg - coalesce(o.od, 0) AS ut,
      |        coalesce(i.ind, 0) + coalesce(o.od, 0) - d.deg AS bi
      |       FROM deg d LEFT JOIN od o ON o.id = d.id LEFT JOIN ind i ON i.id = d.id),
      |raw AS (SELECT count(*) AS vc,
      |        CAST(sum(us + ut) // 2 AS BIGINT) AS uec,
      |        CAST(sum(bi) // 2 AS BIGINT) AS bec,
      |        CAST(sum(us * (us - 1) // 2) AS BIGINT) AS r021d,
      |        CAST(sum(ut * (ut - 1) // 2) AS BIGINT) AS r021u,
      |        CAST(sum(us * ut) AS BIGINT) AS r021c,
      |        CAST(sum(ut * bi) AS BIGINT) AS r111d,
      |        CAST(sum(us * bi) AS BIGINT) AS r111u,
      |        CAST(sum(bi * (bi - 1) // 2) AS BIGINT) AS r201,
      |        CAST(sum(deg * (deg - 1)) AS BIGINT) AS triplets FROM vs),
      |ed2 AS (SELECT pr.u, pr.v, du.deg AS du, dv.deg AS dv
      |        FROM pr JOIN deg du ON du.id = pr.u JOIN deg dv ON dv.id = pr.v),
      |o2 AS (SELECT CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS src,
      |              CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS dst,
      |              CASE WHEN du < dv OR (du = dv AND u < v) THEN dv ELSE du END AS ddeg
      |       FROM ed2),
      |w AS (SELECT o1.src AS apex, o1.dst AS a, oo.dst AS b
      |      FROM o2 o1 JOIN o2 oo ON o1.src = oo.src
      |        AND (o1.ddeg < oo.ddeg OR (o1.ddeg = oo.ddeg AND o1.dst < oo.dst))),
      |tr AS (SELECT w.apex AS x, w.a AS y, w.b AS z
      |       FROM w JOIN o2 ON o2.src = w.a AND o2.dst = w.b),
      |ts AS (SELECT least(x, y, z) AS t1,
      |              x + y + z - least(x, y, z) - greatest(x, y, z) AS t2,
      |              greatest(x, y, z) AS t3 FROM tr),
      |tj AS (SELECT t1, t2, t3,
      |        p12.fw AS fw12, p12.bw AS bw12, p13.fw AS fw13, p13.bw AS bw13,
      |        p23.fw AS fw23, p23.bw AS bw23,
      |        p12.fw * p12.bw AS bi12, p13.fw * p13.bw AS bi13,
      |        p23.fw * p23.bw AS bi23
      |       FROM ts JOIN pr p12 ON p12.u = t1 AND p12.v = t2
      |               JOIN pr p13 ON p13.u = t1 AND p13.v = t3
      |               JOIN pr p23 ON p23.u = t2 AND p23.v = t3),
      |tc AS (SELECT CASE
      |         WHEN bi12 + bi13 + bi23 = 3 THEN '300'
      |         WHEN bi12 + bi13 + bi23 = 2 THEN '210'
      |         WHEN bi12 + bi13 + bi23 = 1 THEN
      |           CASE WHEN bi12 = 1 THEN
      |                  CASE WHEN bw13 + bw23 = 2 THEN '120d'
      |                       WHEN bw13 + bw23 = 0 THEN '120u' ELSE '120c' END
      |                WHEN bi13 = 1 THEN
      |                  CASE WHEN bw12 + fw23 = 2 THEN '120d'
      |                       WHEN bw12 + fw23 = 0 THEN '120u' ELSE '120c' END
      |                ELSE
      |                  CASE WHEN fw12 + fw13 = 2 THEN '120d'
      |                       WHEN fw12 + fw13 = 0 THEN '120u' ELSE '120c' END END
      |         ELSE CASE WHEN greatest(fw12 + fw13, bw12 + fw23, bw13 + bw23) = 1
      |              THEN '030c' ELSE '030t' END END AS ttype,
      |        fw12, bw12, fw13, bw13, fw23, bw23, t1, t2, t3
      |       FROM tj),
      |ta AS (SELECT
      |        CAST(coalesce(sum(CASE WHEN ttype = '030t' THEN 1 ELSE 0 END), 0) AS BIGINT) AS t030t,
      |        CAST(coalesce(sum(CASE WHEN ttype = '030c' THEN 1 ELSE 0 END), 0) AS BIGINT) AS t030c,
      |        CAST(coalesce(sum(CASE WHEN ttype = '120d' THEN 1 ELSE 0 END), 0) AS BIGINT) AS t120d,
      |        CAST(coalesce(sum(CASE WHEN ttype = '120u' THEN 1 ELSE 0 END), 0) AS BIGINT) AS t120u,
      |        CAST(coalesce(sum(CASE WHEN ttype = '120c' THEN 1 ELSE 0 END), 0) AS BIGINT) AS t120c,
      |        CAST(coalesce(sum(CASE WHEN ttype = '210' THEN 1 ELSE 0 END), 0) AS BIGINT) AS t210,
      |        CAST(coalesce(sum(CASE WHEN ttype = '300' THEN 1 ELSE 0 END), 0) AS BIGINT) AS t300
      |       FROM tc),
      |nm AS (SELECT id, CAST(sum(w) AS BIGINT) AS numer FROM (
      |        SELECT t1 AS id, fw23 + bw23 AS w FROM tc
      |        UNION ALL SELECT t2, fw13 + bw13 FROM tc
      |        UNION ALL SELECT t3, fw12 + bw12 FROM tc) GROUP BY 1),
      |la AS (SELECT CAST(sum(CASE WHEN vs.deg >= 2 THEN
      |          round(round(coalesce(nm.numer, 0) * 1.0 / (vs.deg * (vs.deg - 1)), 6)
      |                * 1000000) ELSE 0 END) AS BIGINT) AS lcc6,
      |        CAST(sum(coalesce(nm.numer, 0)) AS BIGINT) AS closed_triplets
      |       FROM vs LEFT JOIN nm ON nm.id = vs.id),
      |cf AS (SELECT * FROM raw CROSS JOIN ta CROSS JOIN la),
      |c2 AS (SELECT *,
      |        r201 - 3 * t300 - t210 AS t201,
      |        r111d - t210 - t120c - 2 * t120d AS t111d,
      |        r111u - t210 - t120c - 2 * t120u AS t111u,
      |        r021c - t120c - 3 * t030c - t030t AS t021c,
      |        r021u - t120u - t030t AS t021u,
      |        r021d - t120d - t030t AS t021d
      |       FROM cf),
      |c3 AS (SELECT *,
      |        bec * (vc - 2) - t111d - t111u - 2 * t201 - t120d - t120u - t120c
      |          - 2 * t210 - 3 * t300 AS t102,
      |        uec * (vc - 2) - 2 * (t021d + t021u + t021c) - t111d - t111u
      |          - 3 * (t030t + t030c) - 2 * (t120d + t120u + t120c) - t210 AS t012
      |       FROM c2)
      |SELECT vc AS n_vertices, uec AS n_uni_edges, bec AS n_bi_edges,
      |       CASE WHEN triplets > 0
      |            THEN CAST(closed_triplets AS DOUBLE) / CAST(triplets AS DOUBLE)
      |            ELSE 0.0 END AS global_cc,
      |       CAST(lcc6 AS DOUBLE) / (1000000.0 * vc) AS avg_cc,
      |       vc * (vc - 1) // 2 * (vc - 2) // 3 - t012 - t102 - t021d - t021u
      |         - t021c - t111d - t111u - t030t - t030c - t201 - t120d - t120u
      |         - t120c - t210 - t300 AS t003,
      |       t012, t102, t021d, t021u, t021c, t111d, t111u, t030t, t030c,
      |       t201, t120d, t120u, t120c, t210, t300
      |FROM c3""".stripMargin

  // ---------- i18: DIRECTED vertex metrics ----------
  // Gelly metric/directed/VertexMetrics on the same directed part graph as
  // i17: directed edge count uni + 2·bi, directed density n/(V(V−1)),
  // out/in-degree maxima — the stats that differ from the undirected i12.
  private val i18: Q = (s, dir) => {
    val e = partEdgesDirected(s, dir)
    Iterate.directedVertexMetrics(e, "src", "dst")
  }
  private val i18Sql =
    """WITH de AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |     FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      |       AND a.l_linenumber < b.l_linenumber AND a.l_partkey <> b.l_partkey),
      |pr AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM de),
      |deg AS (SELECT id, count(*) AS deg FROM
      |        (SELECT u AS id FROM pr UNION ALL SELECT v FROM pr) GROUP BY 1),
      |od AS (SELECT src AS id, count(*) AS od FROM de GROUP BY 1),
      |ind AS (SELECT dst AS id, count(*) AS ind FROM de GROUP BY 1),
      |vs AS (SELECT d.deg, coalesce(o.od, 0) AS od, coalesce(i.ind, 0) AS ind,
      |        coalesce(o.od, 0) + coalesce(i.ind, 0) - d.deg AS bi
      |       FROM deg d LEFT JOIN od o ON o.id = d.id LEFT JOIN ind i ON i.id = d.id),
      |ag AS (SELECT count(*) AS vc,
      |        CAST(sum(deg - bi) // 2 AS BIGINT) AS uec,
      |        CAST(sum(bi) // 2 AS BIGINT) AS bec,
      |        CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS triplets,
      |        CAST(max(deg) AS BIGINT) AS max_degree,
      |        CAST(max(od) AS BIGINT) AS max_out_degree,
      |        CAST(max(ind) AS BIGINT) AS max_in_degree,
      |        CAST(max(deg * (deg - 1) // 2) AS BIGINT) AS max_triplets
      |       FROM vs)
      |SELECT vc AS n_vertices, uec + 2 * bec AS n_edges,
      |       uec AS n_uni_edges, bec AS n_bi_edges,
      |       CAST(uec + 2 * bec AS DOUBLE) / CAST(vc AS DOUBLE) AS avg_degree,
      |       CAST(uec + 2 * bec AS DOUBLE) / CAST(vc * (vc - 1) AS DOUBLE) AS density,
      |       triplets AS n_triplets, max_degree, max_out_degree,
      |       max_in_degree, max_triplets
      |FROM ag""".stripMargin

  // ---------- i19: graph generators, closed-form cross-engine ----------
  // The flink-gelly generator package (CycleGraph/PathGraph/StarGraph/
  // EchoGraph/GridGraph/HypercubeGraph/SingletonEdgeGraph) as ONE tagged
  // edge relation, sized n = |nation| so the oracle parameterizes from the
  // same table; every generator is a closed form over ranges + modular
  // arithmetic, so DuckDB reproduces the exact edge lists (RMat is
  // hash-based and spec-verified instead, GraphGenSpec).
  private val i19: Q = (s, dir) => {
    import graft.operators.GraphGen
    val n = Tables.load(s, dir, "nation").count() // 25 — tiny driver agg
    def tag(t: String, df: DataFrame) =
      df.select(lit(t).as("gen"), col("src"), col("dst"))
    tag("cycle", GraphGen.cycle(s, n))
      .union(tag("path", GraphGen.path(s, n)))
      .union(tag("star", GraphGen.star(s, n)))
      .union(tag("echo", GraphGen.echo(s, n, 4)))
      .union(tag("grid", GraphGen.grid(s, Seq((5L, false), (5L, true)))))
      .union(tag("hypercube", GraphGen.hypercube(s, 4)))
      .union(tag("singleton", GraphGen.singletonEdge(s, 12)))
  }
  private val i19Sql =
    """WITH n AS (SELECT count(*) AS n FROM nation),
      |v AS (SELECT unnest(generate_series(0, n - 1)) AS i, n FROM n)
      |SELECT 'cycle' AS gen, i AS src, (i + 1) % n AS dst FROM v
      |UNION ALL SELECT 'cycle', i, (i + n - 1) % n FROM v
      |UNION ALL SELECT 'path', i, i + 1 FROM v WHERE i < n - 1
      |UNION ALL SELECT 'path', i + 1, i FROM v WHERE i < n - 1
      |UNION ALL SELECT 'star', CAST(0 AS BIGINT), i FROM v WHERE i >= 1
      |UNION ALL SELECT 'star', i, CAST(0 AS BIGINT) FROM v WHERE i >= 1
      |UNION ALL SELECT 'echo', i, (i + (n - 3) // 2 + k) % n
      |          FROM v CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) ks
      |UNION ALL SELECT 'grid', g.range, g.range + 1
      |          FROM range(25) g WHERE g.range % 5 < 4
      |UNION ALL SELECT 'grid', g.range, g.range - 1
      |          FROM range(25) g WHERE g.range % 5 > 0
      |UNION ALL SELECT 'grid', g.range, g.range + 5
      |          FROM range(25) g WHERE g.range // 5 < 4
      |UNION ALL SELECT 'grid', g.range, g.range - 5
      |          FROM range(25) g WHERE g.range // 5 > 0
      |UNION ALL SELECT 'grid', g.range, g.range - 20
      |          FROM range(25) g WHERE g.range // 5 = 4
      |UNION ALL SELECT 'grid', g.range, g.range + 20
      |          FROM range(25) g WHERE g.range // 5 = 0
      |UNION ALL SELECT 'hypercube', h.range, xor(h.range, b)
      |          FROM range(16) h CROSS JOIN
      |               (SELECT unnest([1, 2, 4, 8]) AS b) bs
      |UNION ALL SELECT 'singleton', p.range * 2, p.range * 2 + 1 FROM range(12) p
      |UNION ALL SELECT 'singleton', p.range * 2 + 1, p.range * 2 FROM range(12) p""".stripMargin

  // ---------- i20: bipartite projection ----------
  // flink-gelly bipartite package (BipartiteGraph.projectionTopSimple):
  // the part–order bipartite graph projected onto parts — one projected
  // edge per shared order — aggregated per part pair (count + quantity
  // sums; quantities are whole-number doubles, so sums are exact in any
  // order). Oracle: the same self-join + aggregate.
  private val i20: Q = (s, dir) => {
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_orderkey"), col("l_quantity"))
    graft.operators.Bipartite
      .projectionTopSimple(li, "l_partkey", "l_orderkey", "l_quantity")
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n_shared"),
        sum(col("src_edge_value")).as("sum_q_src"),
        sum(col("dst_edge_value")).as("sum_q_dst"))
  }
  private val i20Sql =
    """SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS n_shared,
      |       sum(a.l_quantity) AS sum_q_src, sum(b.l_quantity) AS sum_q_dst
      |FROM lineitem a JOIN lineitem b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      |GROUP BY 1, 2""".stripMargin

  // ---------- i11: community detection with hop-attenuated scores ----------
  // Gelly CommunityDetection (flink-gelly/.../library/
  // CommunityDetection.java, Leung et al.): label-with-score propagation
  // on the undirected supplier↔customer graph — adopt the max-summed-score
  // label (ties → lowest), re-score to its best single message minus
  // delta/superstep iff changed. Scores are ×10⁶ LONGS (exact, order-free
  // sums); the attenuation literals are computed driver-side and shared
  // with the unrolled oracle.
  private val CdIters = 3
  private val CdDelta = 0.5
  private val i11: Q = (s, dir) => {
    val li = Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val o = Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val base = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("s"), (col("o_custkey") + 100000L).as("c"))
    // both directions explode out of ONE evaluation of the base join (a
    // union of two projections would run the lineitem-orders join twice)
    val edges = base.select(explode(array(
        struct(col("s").as("src"), col("c").as("dst")),
        struct(col("c").as("src"), col("s").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    Iterate.communityDetection(edges, "src", "dst", iters = CdIters, delta = CdDelta)
  }
  private val i11Sql = {
    def step(prev: String, k: Int): String = {
      val dec = Math.round(CdDelta * 1e6 / k)
      s"""f$k AS (SELECT e.dst AS id, p.lab, sum(p.sc6) AS tot, max(p.sc6) AS best
         |       FROM e JOIN $prev p ON p.id = e.src GROUP BY 1, 2),
         |t$k AS (SELECT id, max({'t': tot, 'nl': -lab, 'l': lab, 'b': best}) AS w
         |        FROM f$k GROUP BY 1),
         |l$k AS (SELECT s.id,
         |         CASE WHEN t.id IS NULL THEN s.lab
         |              ELSE struct_extract(t.w, 'l') END AS lab,
         |         CASE WHEN t.id IS NULL THEN s.sc6
         |              WHEN struct_extract(t.w, 'l') = s.lab
         |                THEN struct_extract(t.w, 'b')
         |              ELSE struct_extract(t.w, 'b') - $dec END AS sc6
         |        FROM $prev s LEFT JOIN t$k t ON t.id = s.id)""".stripMargin
    }
    val steps = (1 to CdIters).map(k => step(s"l${k - 1}", k)).mkString(",\n")
    s"""WITH b AS (SELECT DISTINCT l_suppkey AS s, 100000 + o_custkey AS c
       |     FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (SELECT s AS src, c AS dst FROM b UNION SELECT c, s FROM b),
       |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
       |l0 AS (SELECT id, id AS lab, CAST(1000000 AS BIGINT) AS sc6 FROM v),
       |$steps
       |SELECT id, lab AS community,
       |       CAST(sc6 AS DOUBLE) / 1000000.0 AS score FROM l$CdIters""".stripMargin
  }

  // ---------- i12: whole-graph vertex metrics ----------
  // Gelly VertexMetrics (flink-gelly/.../library/metric/undirected/
  // VertexMetrics.java) on the i05 part co-occurrence graph: V, E,
  // 2E/V, density, Σ d(d−1)/2 triplets, max degree, max triplets — all
  // integer-exact except the two single-division ratios.
  private val i12: Q = (s, dir) => {
    val pairs = partEdgesUndirected(s, dir)
    Iterate.vertexMetrics(pairs, "src", "dst")
  }
  private val i12Sql =
    """WITH e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |     FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      |       AND a.l_partkey < b.l_partkey),
      |deg AS (SELECT id, count(*) AS deg FROM
      |        (SELECT u AS id FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
      |em AS (SELECT count(*) AS n_edges FROM e),
      |vm AS (SELECT count(*) AS n_vertices,
      |              CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS n_triplets,
      |              max(deg) AS max_degree,
      |              CAST(max(deg * (deg - 1) / 2) AS BIGINT) AS max_triplets
      |       FROM deg)
      |SELECT n_vertices, n_edges,
      |       CAST(n_edges * 2 AS DOUBLE) / CAST(n_vertices AS DOUBLE) AS avg_degree,
      |       CAST(n_edges AS DOUBLE) /
      |         CAST(n_vertices * (n_vertices - 1) / 2 AS DOUBLE) AS density,
      |       n_triplets, max_degree, max_triplets
      |FROM vm CROSS JOIN em""".stripMargin

  // ---------- i13: whole-graph edge metrics ----------
  // Gelly EdgeMetrics (flink-gelly/.../library/metric/undirected/
  // EdgeMetrics.java) on the same part co-occurrence graph as i12: per
  // vertex, low-order degree → triangle/rectangle triplet counts, summed
  // and maxed — the cheap no-wedge-join estimator the reference pairs
  // with TriangleListing. Integer-exact throughout.
  private val i13: Q = (s, dir) => {
    val pairs = partEdgesUndirected(s, dir)
    Iterate.edgeMetrics(pairs, "src", "dst")
  }
  private val i13Sql =
    """WITH e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |     FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      |       AND a.l_partkey < b.l_partkey),
      |deg AS (SELECT id, count(*) AS deg FROM
      |        (SELECT u AS id FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
      |bo AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
      |st AS (SELECT bo.a AS id, max(da.deg) AS d,
      |              sum(CASE WHEN da.deg < db.deg
      |                        OR (da.deg = db.deg AND bo.a < bo.b)
      |                       THEN 1 ELSE 0 END) AS low
      |       FROM bo JOIN deg da ON da.id = bo.a JOIN deg db ON db.id = bo.b
      |       GROUP BY 1),
      |pv AS (SELECT id, CAST(low * (low - 1) / 2 AS BIGINT) AS tri,
      |              CAST(low * (low - 1) / 2 + low * (d - low) AS BIGINT) AS rect
      |       FROM st)
      |SELECT CAST(sum(tri) AS BIGINT) AS triangle_triplet_count,
      |       CAST(sum(rect) AS BIGINT) AS rectangle_triplet_count,
      |       max(tri) AS max_triangle_triplets,
      |       max(rect) AS max_rectangle_triplets
      |FROM pv""".stripMargin

  // ---------- i14: graph checksum ----------
  // Gelly ChecksumHashCode (flink-gelly/.../library/metric/
  // ChecksumHashCode.java): element counts + order-independent hash sums
  // over vertices and edges of the supplier→customer graph, with the
  // JVM-hashCode replaced by the pinned Knuth mix (see Iterate.checksum).
  private val i14: Q = (s, dir) => {
    val li = Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val o = Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val edges = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("src"), (col("o_custkey") + 100000L).as("dst"))
    Iterate.checksum(edges, "src", "dst")
  }
  private val i14Sql =
    """WITH e AS (SELECT DISTINCT l_suppkey AS u, 100000 + o_custkey AS v
      |     FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |vt AS (SELECT u AS id FROM e UNION SELECT v FROM e),
      |vc AS (SELECT count(*) AS n_vertices,
      |              CAST(sum((id * 2654435761) % 4294967296) % 4294967296
      |                AS BIGINT) AS vertex_checksum FROM vt),
      |ec AS (SELECT count(*) AS n_edges,
      |              CAST(sum(((u * 2654435761) % 4294967296
      |                + 31 * ((v * 2654435761) % 4294967296)) % 4294967296)
      |                % 4294967296 AS BIGINT) AS edge_checksum FROM e)
      |SELECT n_vertices, n_edges, vertex_checksum, edge_checksum,
      |       vertex_checksum + edge_checksum AS checksum
      |FROM vc CROSS JOIN ec""".stripMargin

  // ---------- i15: clustering statistics + triadic census ----------
  // The three remaining Gelly clustering/undirected analytics
  // (AverageClusteringCoefficient, GlobalClusteringCoefficient,
  // TriadicCensus — flink-gelly/.../library/clustering/undirected/) on
  // the same part co-occurrence graph as i05: one single-row relation
  // with avg/global clustering coefficients and the 4-type triad census
  // closed forms. Oracle: i05's wedge CTEs + the same closed forms.
  private val i15: Q = (s, dir) => {
    val pairs = partEdgesUndirected(s, dir)
    Iterate.clusteringStats(pairs, "src", "dst")
  }
  private val i15Sql =
    """WITH e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |     FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      |       AND a.l_partkey < b.l_partkey),
      |deg AS (SELECT id, count(*) AS deg FROM
      |        (SELECT u AS id FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
      |ed AS (SELECT e.u, e.v, du.deg AS du, dv.deg AS dv
      |       FROM e JOIN deg du ON du.id = e.u JOIN deg dv ON dv.id = e.v),
      |o AS (SELECT CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS src,
      |             CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS dst,
      |             CASE WHEN du < dv OR (du = dv AND u < v) THEN dv ELSE du END AS ddeg
      |      FROM ed),
      |w AS (SELECT o1.src AS apex, o1.dst AS a, o2.dst AS b
      |      FROM o o1 JOIN o o2 ON o1.src = o2.src
      |        AND (o1.ddeg < o2.ddeg OR (o1.ddeg = o2.ddeg AND o1.dst < o2.dst))),
      |tri AS (SELECT w.apex AS x, w.a AS y, w.b AS z
      |        FROM w JOIN o ON o.src = w.a AND o.dst = w.b),
      |pv AS (SELECT id, count(*) AS tri FROM
      |       (SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
      |        UNION ALL SELECT z FROM tri) GROUP BY 1),
      |lc AS (SELECT d.id, d.deg, coalesce(pv.tri, 0) AS tri,
      |        CASE WHEN d.deg >= 2 THEN
      |          round(coalesce(pv.tri, 0) * 2.0 / (d.deg * (d.deg - 1)), 6)
      |        ELSE 0.0 END AS lcc
      |       FROM deg d LEFT JOIN pv ON pv.id = d.id),
      |ag AS (SELECT count(*) AS nv, CAST(sum(deg) / 2 AS BIGINT) AS n_edges,
      |        CAST(sum(tri) AS BIGINT) AS tri3,
      |        CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS triplets,
      |        CAST(sum(round(lcc * 1000000)) AS BIGINT) AS lcc6 FROM lc),
      |cf AS (SELECT nv, n_edges, triplets, CAST(tri3 / 3 AS BIGINT) AS t30,
      |        triplets - tri3 AS t21, tri3, lcc6,
      |        n_edges * (nv - 2) - 2 * (triplets - tri3)
      |          - 3 * CAST(tri3 / 3 AS BIGINT) AS t12
      |       FROM ag)
      |SELECT nv AS n_vertices, n_edges, triplets AS n_triplets,
      |       t30 AS n_triangles,
      |       CAST(tri3 AS DOUBLE) / CAST(triplets AS DOUBLE) AS global_cc,
      |       CAST(lcc6 AS DOUBLE) / (1000000.0 * nv) AS avg_cc,
      |       nv * (nv - 1) // 2 * (nv - 2) // 3
      |         - t12 - t21 - t30 AS triads_03,
      |       t12 AS triads_12, t21 AS triads_21, t30 AS triads_30
      |FROM cf""".stripMargin

  // ---------- i21: shared-wedge-pass clustering bundle ----------
  // The i05 + i15 + i17 analytics used to cost one wedge join EACH when a
  // user ran them together; `Iterate.directedClusteringBundle` runs the
  // degree-oriented wedge join ONCE (classified triangle listing + pair
  // table persisted) and serves all three. This query materializes ONE
  // row drawing on every bundle member — undirected stats, directed
  // census, and per-vertex triangle-table aggregates — on i17's directed
  // part graph. Oracle: i17's CTE chain + i15's per-vertex/stats CTEs
  // over the SAME triangle CTE, joined.
  private val i21: Q = (s, dir) => {
    val e = partEdgesDirected(s, dir)
    val b = Iterate.directedClusteringBundle(e, "src", "dst")
    val u = b.stats.select(col("n_vertices"), col("n_edges"), col("n_triplets"),
      col("n_triangles"), col("global_cc"), col("avg_cc"))
    val c = b.census.get.select(col("n_uni_edges"), col("n_bi_edges"),
      col("global_cc").as("dir_global_cc"), col("avg_cc").as("dir_avg_cc"),
      col("t030t"), col("t030c"), col("t210"), col("t300"))
    val t = b.triangles.agg(
      sum(col("id") * col("n_triangles")).cast("long").as("tri_weighted"),
      max(col("n_triangles")).cast("long").as("tri_max"))
    // single-row output: materialize it so the bundle's persisted interim
    // frames can be freed HERE instead of leaking for the session (a lazy
    // return could not unpersist before the consumer evaluates)
    Iterate.sealRows(u.crossJoin(c).crossJoin(t), b)
  }
  private val i21Sql = {
    // the directed chain is i17's verbatim (same graph, same census); the
    // undirected members ride the SAME tr/deg CTEs instead of re-deriving
    val dirChain = i17Sql
      .stripPrefix("WITH ")
      .split("\n")
      .takeWhile(l => !l.startsWith("SELECT vc AS n_vertices"))
      .mkString("\n")
    s"""WITH $dirChain,
       |cen AS (SELECT vc, uec, bec, triplets, lcc6, closed_triplets,
       |        t030t, t030c, t210, t300 FROM c3),
       |pv AS (SELECT id, count(*) AS tri FROM
       |       (SELECT x AS id FROM tr UNION ALL SELECT y FROM tr
       |        UNION ALL SELECT z FROM tr) GROUP BY 1),
       |lc AS (SELECT d.id, d.deg, coalesce(pv.tri, 0) AS tri,
       |        CASE WHEN d.deg >= 2 THEN
       |          round(coalesce(pv.tri, 0) * 2.0 / (d.deg * (d.deg - 1)), 6)
       |        ELSE 0.0 END AS lcc
       |       FROM deg d LEFT JOIN pv ON pv.id = d.id),
       |uag AS (SELECT count(*) AS nv, CAST(sum(deg) / 2 AS BIGINT) AS n_edges,
       |        CAST(sum(tri) AS BIGINT) AS tri3,
       |        CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS triplets,
       |        CAST(sum(round(lcc * 1000000)) AS BIGINT) AS lcc6,
       |        CAST(sum(id * tri) AS BIGINT) AS tri_weighted,
       |        CAST(max(tri) AS BIGINT) AS tri_max FROM lc)
       |SELECT uag.nv AS n_vertices, uag.n_edges,
       |       uag.triplets AS n_triplets,
       |       CAST(uag.tri3 / 3 AS BIGINT) AS n_triangles,
       |       CAST(uag.tri3 AS DOUBLE) / CAST(uag.triplets AS DOUBLE) AS global_cc,
       |       CAST(uag.lcc6 AS DOUBLE) / (1000000.0 * uag.nv) AS avg_cc,
       |       cen.uec AS n_uni_edges, cen.bec AS n_bi_edges,
       |       CASE WHEN cen.triplets > 0
       |            THEN CAST(cen.closed_triplets AS DOUBLE) / CAST(cen.triplets AS DOUBLE)
       |            ELSE 0.0 END AS dir_global_cc,
       |       CAST(cen.lcc6 AS DOUBLE) / (1000000.0 * cen.vc) AS dir_avg_cc,
       |       cen.t030t, cen.t030c, cen.t210, cen.t300,
       |       uag.tri_weighted, uag.tri_max
       |FROM uag CROSS JOIN cen""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "d07_dup_clusters" -> d07, "d08_dedup_verdict" -> d08, "i05_triangle_count" -> i05,
    "i06_label_propagation" -> i06, "i07_jaccard_index" -> i07,
    "i08_adamic_adar" -> i08, "i09_hits" -> i09, "i10_summarization" -> i10,
    "i11_community_detection" -> i11, "i12_vertex_metrics" -> i12,
    "i13_edge_metrics" -> i13, "i14_graph_checksum" -> i14,
    "i15_clustering_stats" -> i15, "i16_summarization_vertices" -> i16,
    "i17_directed_census" -> i17, "i18_directed_vertex_metrics" -> i18, "i19_graph_generators" -> i19, "i20_bipartite_projection" -> i20,
    "i21_clustering_bundle" -> i21,
    "t05_stopword_scrub" -> t05, "i01_kmeans" -> i01, "i02_pagerank" -> i02,
    "i03_sssp" -> i03, "i04_sssp_workset" -> i04, "i22_vertex_centric" -> i22,
    "i23_vertex_centric_pr" -> i23)
  val oracles: Map[String, String] = Map(
    "d07_dup_clusters" -> d07Sql, "d08_dedup_verdict" -> d08Sql,
    "t05_stopword_scrub" -> t05Sql, "i01_kmeans" -> i01Sql, "i02_pagerank" -> i02Sql,
    "i05_triangle_count" -> i05Sql, "i06_label_propagation" -> i06Sql,
    "i07_jaccard_index" -> i07Sql, "i08_adamic_adar" -> i08Sql,
    "i09_hits" -> i09Sql, "i10_summarization" -> i10Sql,
    "i11_community_detection" -> i11Sql, "i12_vertex_metrics" -> i12Sql,
    "i13_edge_metrics" -> i13Sql, "i14_graph_checksum" -> i14Sql,
    "i15_clustering_stats" -> i15Sql, "i16_summarization_vertices" -> i16Sql,
    "i17_directed_census" -> i17Sql, "i18_directed_vertex_metrics" -> i18Sql, "i19_graph_generators" -> i19Sql, "i20_bipartite_projection" -> i20Sql,
    "i21_clustering_bundle" -> i21Sql,
    "i03_sssp" -> i03Sql, "i04_sssp_workset" -> i03Sql,
    "i22_vertex_centric" -> i03Sql, "i23_vertex_centric_pr" -> i02Sql)
}
