package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Relational.topNPerGroup

/** Bulk-iteration analog of the reference's DataSet iterations
  * (flink-java/src/main/java/org/apache/flink/api/java/operators/
  * IterativeDataSet.java): a driver-side fixpoint loop over DataFrames,
  * with each step a declarative plan.
  *
  * Scale notes: per-step results that feed the next step are cached or cut
  * in a [[CacheScope]] (and the previous step freed) so lineage stays O(1)
  * deep — the Spark equivalent of Flink's iteration feedback edge. Centroid
  * sets are tiny and broadcast; only the point set shuffles, once per step,
  * on the cell id.
  */
object Iterate {

  private def sqDist(a: Column, b: Column): Column =
    Similarity.dot(a, a) - lit(2.0) * Similarity.dot(a, b) + Similarity.dot(b, b)

  /** A loop's edge frame, cached in `s`: (src, dst) longs (+ `w` double),
    * distinct, pre-partitioned on src ONCE so each superstep's join shuffles
    * only the small state side, not the edges. */
  private def loopEdges(s: CacheScope, edges: DataFrame, srcCol: String, dstCol: String,
                        wCol: Option[String] = None): DataFrame =
    s.keep(edges.select(Seq(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")) ++ wCol.map(col(_).cast("double").as("w")): _*)
      .distinct().repartition(col("src")))

  /** Simple undirected edges: (u, v) with u < v, distinct, no self-loops. */
  private def canonicalEdges(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(least(col(srcCol), col(dstCol)).as("u"),
      greatest(col(srcCol), col(dstCol)).as("v")).filter(col("u") =!= col("v")).distinct()

  /** Per-vertex degree of a (u, v) pair frame, in one tagged-explode pass. */
  private def degrees(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(col("u"), col("v"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("deg"))

  /** (id, od, indeg) of a directed (src, dst) frame in ONE tagged-explode
    * aggregate (r20, guide §2.4: separate out/in aggregates scanned it
    * twice and cost their consumer two keyed joins). */
  private def inOutDegrees(de: DataFrame): DataFrame =
    de.select(explode(array(
        struct(col("src").as("id"), lit(1L).as("od"), lit(0L).as("ind")),
        struct(col("dst").as("id"), lit(0L).as("od"), lit(1L).as("ind")))).as("x"))
      .groupBy(col("x.id").as("id"))
      .agg(sum(col("x.od")).as("od"), sum(col("x.ind")).as("indeg"))

  /** Centroids after `iters` Lloyd mean-updates over an (id, vec) DataFrame:
    * (cid, cv) with cid 0..k-1. Deterministic: centroids initialize from the
    * K lowest ids; assignment ties break on cid; centroid means rounded at
    * 6 dp — distributed partial-sum order varies run-to-run (and
    * engine-to-engine), rounding pins the fixpoint. */
  def kmeansCentroids(points: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int): DataFrame = CacheScope { s =>
    val pts = s.keep(points.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v")))
    var centroids = pts.orderBy("id").limit(k)
      .select((row_number().over(org.apache.spark.sql.expressions.Window.orderBy("id")) - 1)
        .cast("int").as("cid"), col("v").as("cv"))
    var prevBest: DataFrame = null
    (0 until iters).foreach { _ =>
      val assign = pts.crossJoin(broadcast(centroids))
        .select(col("id"), col("v"), col("cid"), sqDist(col("v"), col("cv")).as("d2"))
      val best = s.keep(topNPerGroup(assign, Seq(col("id")), Seq(col("d2"), col("cid")), 1)
        .select(col("id"), col("v"), col("cid")))
      best.count() // materialize before freeing the feedback edge
      if (prevBest != null) s.free(prevBest)
      prevBest = best
      // new centroid = element-wise mean of members (posexplode + re-collect)
      centroids = best
        .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cid", "dim").agg(round(avg("x"), 6).as("mx"))
        .groupBy("cid").agg(array_sort(collect_list(struct(col("dim"), col("mx")))).as("pairs"))
        .select(col("cid"), expr("transform(pairs, p -> p.mx)").as("cv"))
    }
    if (iters > 0) s.cut(centroids, eager = true) else centroids
  }

  /** Lloyd's k-means over an (id, array<double> v) DataFrame.
    * Deterministic (see [[kmeansCentroids]]); a fixed iteration count (bulk
    * iteration with a for-loop "superstep"). Returns (id, cluster)
    * assignments: the nearest centroid after iters-1 mean-updates — i.e.
    * the final assignment round of an iters-round Lloyd loop. */
  def kmeans(points: DataFrame, idCol: String, vecCol: String,
             k: Int, iters: Int): DataFrame = {
    val pts = points.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val centroids = kmeansCentroids(points, idCol, vecCol, k, iters - 1)
    val assign = pts.crossJoin(broadcast(centroids))
      .select(col("id"), col("cid"), sqDist(col("v"), col("cv")).as("d2"))
    topNPerGroup(assign, Seq(col("id")), Seq(col("d2"), col("cid")), 1)
      .select(col("id"), col("cid").as("cluster"))
  }

  /** Connected components over an undirected edge list (src, dst) — the
    * Gelly/delta-iteration analog (reference flink-libraries/flink-gelly,
    * flink-java DeltaIteration): min-label propagation to a fixpoint, with
    * the per-step convergence check playing the role of the delta set going
    * empty. Returns (id, component) where component = min vertex id reachable.
    *
    * Two things make the loop scale:
    *  - every iteration ends in an EAGER `localCheckpoint`, which truncates
    *    the logical plan. `persist` alone caches data but Catalyst still
    *    re-analyzes the whole accumulated tree, and `labels` is referenced
    *    twice per step, so the un-truncated plan doubles each iteration
    *    (driver OOM by ~iteration 20 regardless of data size). A session
    *    that must survive executor loss mid-loop opts into reliable
    *    checkpoints (see [[CacheScope.cut]]).
    *  - a path-halving hop (label := label of my label) after each
    *    propagation step gives pointer-jumping convergence in O(log diameter)
    *    rounds instead of O(diameter) — chains collapse exponentially fast. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIters: Int = 25,
                          localThreshold: Long = 500000L): DataFrame = CacheScope { s =>
    // materialize the caller's edge pipeline ONCE — it appears in both union
    // branches, and an un-materialized (possibly expensive) plan would be
    // evaluated twice when sym is first computed
    val e0 = s.cut(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")), eager = true)
    // Small-graph fast path, same contract as autoBroadcastJoinThreshold:
    // below the threshold the edge list fits comfortably on the driver, and
    // one union-find pass beats 2·log(diameter) shuffle rounds of the
    // distributed loop. Above it, the distributed fixpoint below runs —
    // that is the 100 TB path. (Flink's Gelly makes the same small-input
    // shortcut through its local executor.) The 500k default is sized for
    // the boxed HashMap the union-find keeps (~100 B per edge incl. Tuple2
    // boxing ⇒ ~50 MB, safe in a default 1 GB driver); raise it only with
    // driver memory to match.
    if (e0.count() <= localThreshold) localUnionFind(e0)
    else distributedComponents(s, e0, maxIters)
  }

  /** The distributed min-label fixpoint of [[connectedComponents]]. */
  private def distributedComponents(s: CacheScope, e0: DataFrame, maxIters: Int): DataFrame = {
    val sym = s.keep(e0
      .union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    var labels = s.cut(sym.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id")), eager = true)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      // candidate label per vertex = min over self and neighbors' labels
      val prop = sym.join(labels, col("dst") === col("id"))
        .select(col("src").as("id"), col("comp"))
        .union(labels)
        .groupBy("id").agg(min(col("comp")).as("comp"))
      // path halving: follow the label pointer one hop (comp := comp's comp)
      val halved = prop.join(
          prop.select(col("id").as("comp"), col("comp").as("comp2")), Seq("comp"), "left")
        .select(col("id"), least(col("comp"), coalesce(col("comp2"), col("comp"))).as("comp"))
      // the convergence probe RIDES the round's own materialization (r21,
      // guide §1.2/§5): the old label is joined INTO the checkpointed frame
      // and the changed-count action is what materializes the LAZY cut —
      // one action per round where an eager checkpoint plus a separate
      // probe join+count job used to be two (the probe join ran anyway;
      // it is now inside the same frame). `labels` stays a one-deep
      // projection of the checkpointed RDD, so lineage depth is unchanged.
      val wide = s.cut(halved.join(labels.withColumnRenamed("comp", "old"), "id"),
        eager = false)
      val changed = wide.filter(col("comp") < col("old")).count()
      s.free(labels) // superseded frame: wide is materialized, count done
      labels = wide.select(col("id"), col("comp"))
      converged = changed == 0
      iter += 1
    }
    labels.select(col("id"), col("comp").as("component"))
  }

  /** Fixed-iteration PageRank over a directed edge list — the Gelly analog
    * (reference flink-libraries/flink-gelly/src/main/java/org/apache/flink/
    * graph/library/linkanalysis/PageRank.java) on the same bulk-iteration
    * substrate as [[kmeans]]/[[connectedComponents]].
    *
    * Semantics: vertices = distinct(src ∪ dst); rank₀ = 1/N; rankₜ₊₁(v) =
    * (1-d)/N + d·Σ_{(u,v)∈E} rankₜ(u)/outdeg(u). Dangling mass is not
    * redistributed (matches Gelly's basic PageRank). Determinism: every
    * iteration's rank is rounded at `interRoundDp` so distributed partial-sum
    * order (and a SQL oracle's sum order) cannot drift the fixpoint; callers
    * round the final output coarser (e.g. 6 dp).
    *
    * Scale: edges/outdeg are cached once and every step is one keyed equi-join
    * + keyed agg (shuffle on vertex id only); the per-step eager
    * `localCheckpoint` truncates lineage exactly as in
    * [[connectedComponents]], so plan depth is O(1) in the iteration count. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, damping: Double = 0.85,
               interRoundDp: Int = 9): DataFrame = CacheScope { s =>
    val e = loopEdges(s, edges, srcCol, dstCol)
    val verts = s.keep(e.select(explode(array(col("src"), col("dst"))).as("id")).distinct())
    val n = verts.count()
    // out-degree rides the cached edge frame, joined ONCE before the loop
    // (r20, guide §2.4), so each superstep is exactly one keyed join + one
    // aggregate. Same src partitioning — no new exchange.
    val ew = s.keep(e.join(e.groupBy("src").agg(count(lit(1)).as("odeg")), "src"))
    var ranks = s.cut(verts.select(col("id"),
      round(lit(1.0) / lit(n), interRoundDp).as("rank")), eager = true)
    (0 until iters).foreach { i =>
      val prev = ranks
      val contrib = ew.join(ranks.withColumnRenamed("id", "rid"), col("src") === col("rid"))
        .select(col("dst").as("id"), (col("rank") / col("odeg")).as("c"))
      ranks = s.cut(verts.join(contrib.groupBy("id").agg(sum(col("c")).as("s")), Seq("id"), "left")
        .select(col("id"),
          round(lit(1.0 - damping) / lit(n) + lit(damping) * coalesce(col("s"), lit(0.0)),
            interRoundDp).as("rank")), eager = true)
      // the first superstep's checkpoint materialized ew (edges + odeg) —
      // from here on `e` is dead weight at 2× edge-set memory (r21, guide
      // §5: free when done, not at loop end)
      if (i == 0) s.free(e)
      s.free(prev) // superseded frame: the new ranks are materialized
    }
    ranks
  }

  /** Community detection via LABEL PROPAGATION — the Gelly LabelPropagation
    * analog (reference flink-libraries/flink-gelly/src/main/java/org/
    * apache/flink/graph/library/LabelPropagation.java): labels start as
    * vertex ids; each superstep every vertex adopts, among the labels its
    * in-neighbors sent, the one with the HIGHEST frequency — frequency
    * ties break to the HIGHEST label, and when the top frequency is 1 the
    * vertex's own current label competes too (the reference gather
    * function's `maxFrequency = 1, mostFrequentLabel = own` initial
    * state); a vertex receiving no messages keeps its label. Supply both
    * edge directions for the undirected semantics the reference expects.
    * Deterministic: argmax by (count, label) is order-free, so a SQL
    * engine reproduces every superstep exactly (the oracle unrolls them).
    * Scale shape as [[pageRank]]: edges pre-partitioned on src once, each
    * superstep one keyed join + two hash aggregates (count per (dst,
    * label) then max_by per dst — no windows, no sorts), eager lineage
    * truncation per round. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int): DataFrame = CacheScope { s =>
    val e = loopEdges(s, edges, srcCol, dstCol)
    val verts = s.keep(e.select(explode(array(col("src"), col("dst"))).as("id")).distinct())
    var labels = s.cut(verts.select(col("id"), col("id").as("lab")), eager = true)
    (0 until iters).foreach { _ =>
      val prev = labels
      val freq = e.join(labels.select(col("id").as("lid"), col("lab")),
          col("src") === col("lid"))
        .groupBy(col("dst").as("id"), col("lab")).agg(count(lit(1)).as("cnt"))
      val top = freq.groupBy("id").agg(
        max(col("cnt")).as("fstar"),
        max_by(col("lab"), struct(col("cnt"), col("lab"))).as("toplab"))
      labels = labels.join(top, Seq("id"), "left")
        .select(col("id"),
          when(col("toplab").isNull, col("lab"))
            .when(col("fstar") === 1, greatest(col("lab"), col("toplab")))
            .otherwise(col("toplab")).as("lab"))
      labels = s.cut(labels, eager = true)
      s.free(prev)
    }
    labels
  }

  /** Neighborhood JACCARD similarity — the Gelly JaccardIndex analog
    * (reference flink-libraries/flink-gelly/src/main/java/org/apache/
    * flink/graph/library/similarity/JaccardIndex.java: per vertex pair
    * with at least one common neighbor, Result(v0, v1,
    * sharedNeighborCount, distinctNeighborCount)). Neighborhoods are the
    * OUT-neighbors of the supplied directed edges — pass both directions
    * for a plain undirected graph (Gelly's semantics), or a bipartite
    * incidence (e.g. part → order) for set-similarity over the incidence
    * sets (the market-basket shape). Output: (u, v, shared, dist_union,
    * score = shared / union) for u < v with shared ≥ `minShared` — the
    * score is one integer-operand IEEE division, bit-identical across
    * engines, no rounding needed.
    *
    * Fully declarative, no iteration: pair generation GROUPS BY THE
    * COMMON NEIGHBOR (Σ deg(w)² wedge volume — Gelly's own
    * generateGroupPairs does the same grouping), one hash count per pair,
    * degrees broadcast back. `minShared` caps the emitted pair set, not
    * the wedge volume.
    *
    * Hub-neighbor spread: a common neighbor of degree d funnels C(d,2)
    * pair GENERATION through one join key — the reference pre-spreads
    * with explicit spans (flink-gelly/.../similarity/JaccardIndex.java:68,
    * 257 GenerateGroupSpans, GROUP_SIZE 64) rather than trusting runtime
    * skew handling (AQE's compressed-byte thresholds miss a partition
    * whose pair OUTPUT explodes 1000× past its input), and so does this:
    * each neighbor gets nspans = ceil(deg/`groupSpanSize`) spans riding
    * the degree aggregate's guarded broadcast (row-local tagging, no
    * window sort), the left side replicates each row into all of its
    * group's spans, the right side sits in its hash-native span, and the
    * pair join keys on (neighbor, span) — a degree-10⁶ hub spreads over
    * ~15.6k join keys with ~d·spanSize pairs each instead of one
    * 10¹²-pair task. Replication volume is ~pairVolume·2/spanSize
    * (amortized by the output it feeds); the a<b guard keeps each pair in
    * exactly one bucket (left i meets native j), and a neighbor at/below
    * spanSize has nspans = 1 — zero replication, the plain join's
    * cardinality. */
  def jaccardIndex(edges: DataFrame, srcCol: String, dstCol: String,
                   minShared: Long = 1L,
                   broadcastDegThreshold: Long = 10000000L,
                   groupSpanSize: Int = 64): DataFrame = CacheScope { s =>
    require(groupSpanSize >= 1, s"groupSpanSize must be >= 1 (got $groupSpanSize)")
    val n = s.pin(edges.select(col(srcCol).as("id"), col(dstCol).as("nb")).distinct(),
      "jaccardIndex.incidence")
    // the count materializes the cached incidence (which both the degree
    // agg and the pair join need anyway) and GUARDS the degree broadcast —
    // a hard hint on a billion-vertex degree table would throw past
    // maxBroadcastTableBytes; above the threshold the join shuffles and
    // AQE still broadcasts at runtime when the side actually fits (the
    // triangleCounts broadcastClosureThreshold convention)
    val nIncidence = n.count()
    val fits = nIncidence <= broadcastDegThreshold
    // BOTH degree tables — per-id (the u/v degrees of the output) and
    // per-neighbor (the span spread) — out of ONE tagged-explode pass over
    // the cached incidence (r21, guide §2.4), keyed by the UNION of the two
    // id spaces; the per-position counts stay separate columns, so
    // overlapping id spaces cannot mix.
    val dstats = s.pin(n.select(explode(array(
        struct(col("id").as("k"), lit(1L).as("dc"), lit(0L).as("nc")),
        struct(col("nb").as("k"), lit(0L).as("dc"), lit(1L).as("nc")))).as("x"))
      .groupBy(col("x.k").as("k"))
      .agg(sum(col("x.dc")).as("deg"), sum(col("x.nc")).as("nbdeg")),
      "jaccardIndex.degrees")
    // alias-only wrappers (the r20 orientedAdjacency convention): every
    // broadcast below canonicalizes to the SAME dstats plan, so the
    // degree build is shared instead of one build per renamed side
    def dside(alias: String) = {
      val d = dstats.as(alias)
      if (fits) broadcast(d) else d
    }
    val sp = n.join(dside("ns"), col("nb") === col("ns.k"))
      .select(col("id"), col("nb"),
        ceil(col("ns.nbdeg").cast("double") / groupSpanSize).cast("long")
          .as("nspans"))
    val (lhs, rhs) = spannedSides(sp, Seq.empty)
    // the pair join BROADCASTS the hash-native side under the same guard
    // (r21, guide §3.1/§2.3): the replicated left side — the FAT side, up
    // to spanCount× the incidence — then never shuffles or sorts at all;
    // the broadcast payload is one (id, nb, span) row per incidence entry
    // (~24 B/row ⇒ ~240 MB at the 10 M default, inside the guide's
    // few-hundred-MB broadcast band). Above the threshold the former
    // keyed join runs unchanged — the 100 TB path is identical.
    val rhsSide = {
      val r = rhs.select(col("id").as("b"), col("nb").as("nb2"),
        col("span").as("span2"))
      if (fits) broadcast(r) else r
    }
    val shared = lhs.select(col("id").as("a"), col("nb"), col("tspan"))
      .join(rhsSide,
        col("nb") === col("nb2") && col("tspan") === col("span2") &&
          col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    shared
      .join(dside("da"), col("a") === col("da.k"))
      .join(dside("db"), col("b") === col("db.k"))
      .select(col("a").as("u"), col("b").as("v"), col("shared"),
        (col("da.deg") + col("db.deg") - col("shared")).as("dist_union"),
        (col("shared").cast("double") /
          (col("da.deg") + col("db.deg") - col("shared")).cast("double")).as("score"))
  }

  /** The two sides of a span-spread wedge self-join (see [[jaccardIndex]]'s
    * hub-neighbor note; reference GenerateGroupSpans/GenerateGroups/
    * GenerateGroupPairs in flink-gelly's JaccardIndex). `sp` must carry
    * (id, nb, nspans) plus `carry` extra columns, where nspans =
    * ceil(deg(nb)/spanSize) rides the neighbor-degree aggregate the
    * caller already has (guarded-broadcast joined — row-local tagging, no
    * window sort). Left side: each row replicated into ALL of its group's
    * spans; right side: each row in its hash-native span. Pair (i, j)
    * with i < j is generated exactly once — left i meets native j in j's
    * span, the a<b guard kills the mirror — and a group at/below spanSize
    * has nspans = 1: no replication, the plain wedge join's cardinality. */
  private def spannedSides(sp: DataFrame, carry: Seq[String]): (DataFrame, DataFrame) = {
    val base = Seq("id", "nb") ++ carry
    val lhs = sp.select(base.map(col) :+
      explode(sequence(lit(0L), col("nspans") - 1L)).as("tspan"): _*)
    val rhs = sp.select(base.map(col) :+
      pmod(xxhash64(col("id")), col("nspans")).as("span"): _*)
    (lhs, rhs)
  }

  /** ADAMIC-ADAR neighborhood similarity — the Gelly AdamicAdar analog
    * (reference flink-libraries/flink-gelly/src/main/java/org/apache/
    * flink/graph/library/similarity/AdamicAdar.java: per vertex pair,
    * Σ over common neighbors w of 1/ln(deg(w)) — rare shared neighbors
    * weigh more). Same neighborhood/incidence contract and
    * common-neighbor-grouped pair generation as [[jaccardIndex]].
    *
    * Cross-engine determinism: a float Σ over a pair's shared neighbors
    * is order-of-addition dependent. Each term is therefore quantized to
    * an exact integer count of 10⁻⁶ units BEFORE the sum —
    * `round(10⁶/ln(deg))` is an integer-valued double (identical IEEE
    * operands on both engines, exact below 2⁵³), so the aggregation is
    * associative integer addition (the engine's scaled-integer
    * convention), divided back to DOUBLE once at the end. */
  def adamicAdar(edges: DataFrame, srcCol: String, dstCol: String,
                 minShared: Long = 1L,
                 broadcastDegThreshold: Long = 10000000L,
                 groupSpanSize: Int = 64): DataFrame = CacheScope { s =>
    require(groupSpanSize >= 1, s"groupSpanSize must be >= 1 (got $groupSpanSize)")
    val n = s.pin(edges.select(col(srcCol).as("id"), col(dstCol).as("nb")).distinct(),
      "adamicAdar.incidence")
    // materializes the cached incidence + GUARDS the weight broadcast
    // (the jaccardIndex/triangleCounts guarded-hint convention)
    val nIncidence = n.count()
    // common-neighbor degree -> exact scaled per-term weight
    // a degree-1 neighbor can never be COMMON to a pair — dropping it is
    // semantically lossless and keeps ln(deg) > 0
    val nbDeg = n.groupBy("nb").agg(count(lit(1)).as("nbdeg"))
      .filter(col("nbdeg") >= 2)
      .withColumn("w6",
        round(lit(1000000.0) / log(col("nbdeg").cast("double"))).cast("long"))
      // span count rides the SAME degree aggregate/broadcast — the spread
      // costs adamicAdar no extra agg or join
      .withColumn("nspans",
        ceil(col("nbdeg").cast("double") / groupSpanSize).cast("long"))
    val nbSide = {
      val d = nbDeg.select(col("nb").as("nb0"), col("w6"), col("nspans"))
      if (nIncidence <= broadcastDegThreshold) broadcast(d) else d
    }
    val wn = n.join(nbSide, col("nb") === col("nb0"))
      .select(col("id"), col("nb"), col("w6"), col("nspans"))
    // hub-neighbor span spread, same scheme as jaccardIndex (the per-term
    // weight is constant within a group, so it rides the left side); the
    // pair join broadcasts the hash-native side under the same guard
    // (r21, guide §3.1 — see jaccardIndex: the replicated fat side then
    // never shuffles; above the threshold the keyed join is unchanged)
    val (lhs, rhs) = spannedSides(wn, Seq("w6"))
    val rhsSide = {
      val r = rhs.select(col("id").as("b"), col("nb").as("nb2"),
        col("span").as("span2"))
      if (nIncidence <= broadcastDegThreshold) broadcast(r) else r
    }
    lhs.select(col("id").as("a"), col("nb"), col("tspan"), col("w6"))
      .join(rhsSide,
        col("nb") === col("nb2") && col("tspan") === col("span2") &&
          col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("shared"), sum(col("w6")).as("s6"))
      .filter(col("shared") >= minShared)
      .select(col("a").as("u"), col("b").as("v"), col("shared"),
        (col("s6").cast("double") / lit(1000000.0)).as("aa_score"))
  }

  /** HITS hubs-and-authorities — the Gelly HITS analog (reference
    * flink-libraries/flink-gelly/src/main/java/org/apache/flink/graph/
    * library/linkanalysis/HITS.java: alternating power iteration —
    * authority(v) = Σ hub over in-edges, hub(u) = Σ authority over
    * out-edges, each normalized to unit L2 per superstep). Hubs start at
    * 1.0; every normalized score is rounded to 9 dp per superstep (the
    * pageRank convention) — the per-vertex float sums and the GLOBAL norm
    * sum drift by at most ~n·ulp ≈ 1e-13 relative across engines, orders
    * of magnitude inside the rounding pin, so the oracle unrolls the
    * supersteps exactly. A vertex with no in-(out-)edges scores 0
    * authority (hub). Scale shape as [[pageRank]]: edges pre-partitioned
    * once, per superstep two keyed joins + two hash aggregates + two
    * scalar norms riding broadcasts, eager lineage truncation. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int): DataFrame = CacheScope { s =>
    val e = loopEdges(s, edges, srcCol, dstCol)
    val verts = s.keep(e.select(explode(array(col("src"), col("dst"))).as("id")).distinct())
    var scores = s.cut(verts.select(col("id"), lit(1.0).as("hub"), lit(0.0).as("auth")),
      eager = true)
    (0 until iters).foreach { _ =>
      val prev = scores
      val araw = e.join(scores.select(col("id").as("sid"), col("hub")),
          col("src") === col("sid"))
        .groupBy(col("dst").as("id")).agg(sum(col("hub")).as("raw"))
      // raw frames feed TWO consumers (the norm scalar and the next stage)
      // — cache within the superstep or every consumer re-runs the
      // upstream joins (a cache, not a lineage cut: the cache keeps plan
      // STATISTICS, so the e-side join can still broadcast the score side;
      // a checkpoint's LogicalRDD has none — measured ~8% slower here).
      // The L2 norm is ONE double: the head() rides the same action that
      // materializes the cache, and the scalar is inlined as a literal
      // (r20). The auth column rides the h-side frame (r21, guide §2.4):
      // round(raw / lit(nrm), 9) over the same IEEE doubles.
      val a1 = s.keep(verts.join(araw, Seq("id"), "left")
        .select(col("id"), coalesce(col("raw"), lit(0.0)).as("araw")))
      val anorm = a1.agg(sqrt(sum(col("araw") * col("araw")))).head().getDouble(0)
      val hraw = e.join(a1.select(col("id").as("aid"),
            round(col("araw") / lit(anorm), 9).as("av")),
          col("dst") === col("aid"))
        .groupBy(col("src").as("id")).agg(sum(col("av")).as("raw"))
      val h1 = s.keep(a1.join(hraw, Seq("id"), "left")
        .select(col("id"), coalesce(col("raw"), lit(0.0)).as("hraw"),
          round(col("araw") / lit(anorm), 9).as("auth")))
      val hnorm = h1.agg(sqrt(sum(col("hraw") * col("hraw")))).head().getDouble(0)
      scores = s.cut(h1.select(col("id"),
        round(col("hraw") / lit(hnorm), 9).as("hub"), col("auth")), eager = true)
      s.free(a1); s.free(h1); s.free(prev)
    }
    scores
  }

  /** Single-source shortest paths on the bulk-iteration substrate — the
    * Gelly SingleSourceShortestPaths analog (reference flink-libraries/
    * flink-gelly/src/main/java/org/apache/flink/graph/library/
    * SingleSourceShortestPaths.java): `iters` rounds of Bellman-Ford
    * relaxation (min-plus). Unreached vertices keep a NULL distance.
    * Determinism: each round is
    * dist_k(v) = min(dist_{k-1}(v), min_{(u,v,w)} dist_{k-1}(u) + w) — the
    * same expression tree any SQL engine evaluates, so path sums are
    * bit-identical by induction (no rounding needed when weights are exact
    * binary fractions). Same scale shape as [[pageRank]]: edges
    * pre-partitioned on src once, each round one keyed join + keyed min,
    * eager lineage truncation per round. */
  def sssp(edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
           sourceId: Long, iters: Int): DataFrame = CacheScope { s =>
    val e = loopEdges(s, edges, srcCol, dstCol, Some(wCol))
    val verts = e.select(explode(array(col("src"), col("dst"))).as("id")).distinct()
    var dist = s.cut(verts.select(col("id"),
      when(col("id") === sourceId, lit(0.0)).otherwise(lit(null).cast("double")).as("dist")),
      eager = true)
    (0 until iters).foreach { _ =>
      val prev = dist
      val relaxed = e.join(dist.filter(col("dist").isNotNull)
          .select(col("id").as("rid"), col("dist").as("d0")), col("src") === col("rid"))
        .select(col("dst").as("id"), (col("d0") + col("w")).as("dist"))
      dist = s.cut(dist.union(relaxed).groupBy("id").agg(min(col("dist")).as("dist")),
        eager = true)
      s.free(prev)
    }
    dist
  }

  /** DELTA-iteration SSSP — the workset optimization of [[sssp]] (reference
    * flink-java/.../operators/DeltaIteration.java and Gelly's
    * scatter-gather SingleSourceShortestPaths): each round relaxes ONLY
    * from the frontier — vertices whose distance IMPROVED in the previous
    * round — instead of every reached vertex. Identical result per round
    * (dist_k(v) = shortest path using ≤ k edges, by induction: any path
    * improved at round k extends one improved at k-1), but the per-round
    * join input shrinks with the frontier, which is the property that makes
    * delta iterations converge cheaply on large, mostly-settled graphs.
    * Same substrate: edges pre-partitioned once, eager lineage truncation;
    * early-exit when the frontier empties. */
  def ssspWorkset(edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
                  sourceId: Long, iters: Int): DataFrame = CacheScope { s =>
    val e = loopEdges(s, edges, srcCol, dstCol, Some(wCol))
    val verts = e.select(explode(array(col("src"), col("dst"))).as("id")).distinct()
    var dist = s.cut(verts.select(col("id"),
      when(col("id") === sourceId, lit(0.0)).otherwise(lit(null).cast("double")).as("dist")),
      eager = true)
    // workset: (id, dist) rows improved last round — initially the source,
    // a lazy one-deep filter of the checkpointed dist (no cut of its own)
    var frontier = dist.filter(col("dist").isNotNull)
    var frontierNonEmpty = !frontier.isEmpty
    var i = 0
    while (i < iters && frontierNonEmpty) {
      val prevDist = dist
      val prevFrontier = frontier
      val relaxed = e.join(frontier.select(col("id").as("rid"), col("dist").as("d0")),
          col("src") === col("rid"))
        .select(col("dst").as("id"), (col("d0") + col("w")).as("nd"))
        .groupBy("id").agg(min(col("nd")).as("nd"))
      // the joined frame feeds BOTH next and frontier — cut ONCE (r20),
      // and the cut is LAZY (r21, guide §1.2/§5): the next round's
      // emptiness probe is the count() below, which is also the action
      // that materializes the checkpoint, so a round is one job. next/
      // frontier stay lazy one-deep projections of the checkpointed frame.
      val joined = s.cut(dist.join(relaxed, Seq("id"), "left"), eager = false)
      frontier = joined.filter(col("nd").isNotNull &&
          (col("dist").isNull || col("nd") < col("dist")))
        .select(col("id"), col("nd").as("dist"))
      frontierNonEmpty = frontier.count() > 0
      dist = joined.select(col("id"),
        least(col("dist"), col("nd")).as("dist")) // least() ignores nulls
      // the new joined frame is materialized; the old round's is dead
      // (prevDist/prevFrontier both wrap the SAME checkpointed RDD — the
      // second free is a no-op)
      s.free(prevDist); s.free(prevFrontier)
      i += 1
    }
    dist
  }

  /** GENERIC vertex-centric iteration — the Gelly/Pregel PROGRAMMING MODEL
    * as a first-class combinator (reference flink-gelly/.../pregel/
    * VertexCentricIteration.java + ComputeFunction.java, surfaced as
    * Graph.runVertexCentricIteration): the reference lets a user run a
    * CUSTOM graph algorithm by writing a compute function; the library
    * algorithms in this file are fixed instances of that model. This is
    * the DataFrame analog — the algorithm is three Catalyst expressions,
    * so every superstep stays one declarative plan:
    *
    *  - `message(k)`: evaluated per EDGE whose source holds a state —
    *    sees the source's state as `state` plus every edge column; null
    *    messages are not sent (so a null-state vertex naturally stays
    *    silent in reach-style algorithms). `k` is the 0-based superstep
    *    (the reference's getSuperstepNumber) for attenuation-style
    *    per-round constants.
    *  - `merge`: an AGGREGATE over `msg` combining a vertex's inbox
    *    (the reference's MessageCombiner + the gather of its iterator —
    *    min/max/sum/collect_list all work).
    *  - `update(k)`: evaluated per vertex THAT RECEIVED a message — sees
    *    the old `state` and the merged `msg`. No-inbox vertices keep
    *    their state unchanged, the reference's vote-to-halt default.
    *    With `updateAlways = true`, `update(k)` runs on EVERY vertex
    *    every superstep (`msg` is null for an empty inbox) — the
    *    reference's ComputeFunction may `setNewVertexValue` regardless
    *    of its inbox, which PageRank-class algorithms need: the damping
    *    term applies to every vertex each round, inbox or not.
    *    `VertexCentricSpec` re-derives PageRank this way (out-degree
    *    rides the edge frame as a column) and proves it equal to the
    *    dedicated [[pageRank]]; `i23_vertex_centric_pr` runs it against
    *    i02's unrolled-CTE oracle.
    *
    * Halts after `maxSupersteps`, or earlier at a FIXPOINT (no state
    * changed, null-safe) when `haltOnFixpoint` — everyone-voted-to-halt.
    * The check rides the superstep's own materialization: the updated
    * frame carries the previous state one column wide, so no extra join
    * or job beyond an isEmpty probe on the checkpointed result (skipped
    * on the final superstep, whose verdict nothing would consume).
    * CAUTION: a state plateau is only an algorithm fixpoint when the
    * expressions are superstep-INDEPENDENT (the monotone min/max/reach
    * family). A schedule that goes quiet early and re-activates at a
    * later `k` would be cut off — pass `haltOnFixpoint = false` for any
    * genuinely k-dependent algorithm and bound it by `maxSupersteps`.
    *
    * Scale shape — the engine's iteration conventions baked in so custom
    * algorithms inherit them: edges pre-partitioned on the source ONCE
    * and cached; per superstep one keyed join + one hash aggregate +
    * the update projection; `localCheckpoint` per superstep with eager
    * predecessor freeing (lineage stays O(1) deep regardless of round
    * count). `VertexCentricSpec` re-derives SSSP and connected
    * components through this combinator and proves them equal to the
    * dedicated [[sssp]]/[[connectedComponents]] operators on random
    * graphs; `i22_vertex_centric` runs the SSSP instance against the
    * same unrolled-CTE oracle as i03/i04. */
  def vertexCentric(edges: DataFrame, srcCol: String, dstCol: String,
                    vertices: DataFrame, idCol: String, stateCol: String,
                    message: Int => Column, merge: Column,
                    update: Int => Column, maxSupersteps: Int,
                    haltOnFixpoint: Boolean = true,
                    updateAlways: Boolean = false): DataFrame = CacheScope { s =>
    val reserved = Seq("state", "msg", "__vid", "__prev", "__n")
    // Spark resolves columns case-insensitively by default — so must this
    edges.columns.filter(c => reserved.contains(c.toLowerCase)).foreach(c =>
      sys.error(s"vertexCentric: edge column '$c' collides with a reserved " +
        s"name (${reserved.mkString(", ")}) — rename it before iterating"))
    val e = s.keep(edges.repartition(col(srcCol)))
    var wide = s.cut(vertices
      .select(col(idCol).as("id"), col(stateCol).as("state")), eager = true)
    var k = 0
    var fixed = false
    while (k < maxSupersteps && !fixed) {
      val prev = wide
      val msgs = e
        .join(wide.select(col("id").as("__vid"), col("state")),
          col(srcCol) === col("__vid"))
        .select(col(dstCol).as("id"), message(k).as("msg"))
        .filter(col("msg").isNotNull)
      // __n tracks RECEIPT separately from the merged value: a merge that
      // evaluates to null over a non-empty inbox (a filtered min, say)
      // must still trigger update — "received a message" is the contract,
      // not "merged to a non-null value"
      val inbox = msgs.groupBy("id")
        .agg(merge.as("msg"), count(lit(1)).as("__n"))
      val newState = if (updateAlways) update(k)
        else when(col("__n").isNull, col("state")).otherwise(update(k))
      // On probing supersteps the cut is LAZY and the fixpoint probe is
      // the action that materializes it (r21, guide §1.2/§5 — eager
      // checkpoint + separate isEmpty probe were two jobs for one); the
      // count must touch every partition anyway, which is exactly what
      // the materialization needs. The final superstep's verdict would
      // go unread — no probe, so the cut is eager — and a non-halting
      // schedule never carries the __prev column at all.
      val probe = haltOnFixpoint && k < maxSupersteps - 1
      val updated = wide.select(col("id"), col("state"))
        .join(inbox, Seq("id"), "left_outer")
      wide = s.cut(
        if (probe) updated.select(col("id"), newState.as("state"),
          col("state").as("__prev"))
        else updated.select(col("id"), newState.as("state")),
        eager = !probe)
      if (probe)
        fixed = wide.filter(!(col("state") <=> col("__prev"))).count() == 0L
      s.free(prev)
      k += 1
    }
    wide.select(col("id"), col("state"))
  }

  /** Driver-side union-find for sub-threshold edge lists: union by min root
    * (the smaller root absorbs the larger, preserving the min-label
    * contract) with path compression. Vertex ids are compressed to dense
    * Int indices over a sorted primitive array, so the whole structure is
    * two flat arrays — no per-entry boxing, ~12 B/vertex instead of the
    * ~100 B a boxed HashMap row costs. */
  private def localUnionFind(e0: DataFrame): DataFrame = {
    val spark = e0.sparkSession
    import spark.implicits._
    val pairs = e0.as[(Long, Long)].collect()
    // dense index: ids sorted ascending, so a smaller index IS a smaller id
    // and union-by-smaller-index preserves the min-label contract
    val ids: Array[Long] = {
      val arr = new Array[Long](pairs.length * 2)
      var i = 0
      pairs.foreach { case (a, b) => arr(i) = a; arr(i + 1) = b; i += 2 }
      arr.distinct.sorted
    }
    def idx(x: Long): Int = java.util.Arrays.binarySearch(ids, x)
    val parent = Array.tabulate(ids.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(idx(a)), find(idx(b)))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    ids.indices.map(i => (ids(i), ids(find(i)))).toDF("id", "component")
  }

  /** Per-vertex TRIANGLE counts + local clustering coefficient — the Gelly
    * TriangleListing / LocalClusteringCoefficient analogs (reference
    * flink-libraries/flink-gelly/.../library/clustering/undirected/
    * TriangleListing.java and LocalClusteringCoefficient.java; Gelly's own
    * algorithm is the same degree-oriented join). Input: an undirected edge
    * list (duplicates / both directions / self-loops tolerated). Output:
    * (id, degree, n_triangles, lcc) per vertex, `lcc` = 2T / (deg·(deg−1))
    * rounded to 6 dp (0 for degree < 2).
    *
    * Fully DECLARATIVE — no iteration: canonicalize + distinct, orient
    * every edge toward its (degree, id)-larger endpoint (each triangle then
    * has exactly ONE apex with two out-edges), wedge-join oriented edges on
    * the apex, and close each wedge against the oriented edge set. The
    * orientation is THE scalability lever: out-degrees are bounded by
    * O(√|E|) on any graph, so the wedge join is O(Σ out-deg²) ≲ O(|E|^1.5)
    * instead of Σ deg² (which a hub vertex makes quadratic). All equi-joins
    * — shuffles on vertex/edge keys only, no cartesian. */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String,
                     broadcastClosureThreshold: Long = 10000000L): DataFrame =
    CacheScope(triangleCountsIn(_, edges, srcCol, dstCol, broadcastClosureThreshold))

  /** [[triangleCounts]] with its cached frames registered in `s`. */
  private def triangleCountsIn(s: CacheScope, edges: DataFrame, srcCol: String,
                               dstCol: String, broadcastClosureThreshold: Long): DataFrame = {
    // the canonical edge set feeds the degree count AND the orientation,
    // and the oriented set feeds both wedge sides AND the closure
    val e = s.pin(canonicalEdges(edges, srcCol, dstCol), "triangleCounts.edges")
    // the count materializes the cached canonical set (which every
    // downstream consumer needs anyway) and gates the closure broadcast
    val nEdges = e.count()
    // deg feeds the two orientation joins AND the per-vertex tail — four
    // differently-keyed/broadcast consumers whose exchanges cannot share
    val deg = s.pin(degrees(e), "triangleCounts.degrees")
    val tris = wedgeTriangles(s, e, deg, nEdges, broadcastClosureThreshold)
    perVertexTriangles(tris, "x", "y", "z", deg)
  }

  /** (id, degree, n_triangles, lcc) from a triangle listing + degree table
    * — the shared tail of [[triangleCounts]] and the bundles. The three
    * corners EXPLODE out of one scan: a 3-way union of projections would
    * evaluate the (unpersisted) wedge-join subtree once PER BRANCH —
    * exchange reuse saves the shuffle, not the join probes. */
  private def perVertexTriangles(tris: DataFrame, c1: String, c2: String,
                                 c3: String, deg: DataFrame): DataFrame =
    perVertexFromCounts(tris
      .select(explode(array(col(c1), col(c2), col(c3))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("tri")), deg)

  /** The (id, degree, n_triangles, lcc) tail over an ALREADY-AGGREGATED
    * per-vertex triangle-count table — shared with the directed bundle,
    * whose single corner-explode pass produces the counts alongside the
    * directed-LCC numerators. */
  private def perVertexFromCounts(counts: DataFrame, deg: DataFrame): DataFrame =
    deg.join(counts, Seq("id"), "left_outer")
      .select(col("id"), col("deg").as("degree"),
        coalesce(col("tri"), lit(0L)).as("n_triangles"),
        when(col("deg") >= 2, round(
          coalesce(col("tri"), lit(0L)).cast("double") * 2.0 /
            (col("deg") * (col("deg") - 1)).cast("double"), 6))
          .otherwise(lit(0.0)).as("lcc"))

  /** The degree-oriented EDGE-ITERATOR triangle core shared by
    * [[triangleCounts]] and [[directedClusteringStats]]: canonical edges
    * (u < v, distinct) + their degree table → one row (x, y, z) per
    * triangle (x→y the base edge, z a common out-neighbor: x→z and y→z
    * in the orientation; each triangle listed exactly once — its base is
    * the unique orientation edge whose two wedge legs both point AWAY).
    * Orientation toward the (degree, id)-larger endpoint bounds
    * out-degrees by O(√|E|), so per-vertex adjacency ARRAYS are O(√|E|)
    * elements and the total intersection work is the same O(|E|^1.5) as
    * the classic wedge join — but as `array_intersect` over two
    * pre-grouped sorted arrays per edge, WITHOUT materializing the wedge
    * relation (r14: measured 4× over the former wedge-join +
    * broadcast-closure lowering at sf0.1, where ~30 M wedge rows never
    * exist now) and with NO data-sized broadcast at all — two keyed
    * equi-joins of the edge set against the vertex-sized adjacency
    * table, a shape that needs no size guard at any scale. (The builtin's
    * hash-based intersect measured ~10% FASTER here than the sorted
    * merge walk [[graft.functions.SortedIntersectPacked]] uses, so the
    * plain path keeps the builtin; the flagged census path needs the
    * custom expression for its two-sided flag carry — see
    * [[flaggedTriangles]].) */
  private def wedgeTriangles(s: CacheScope, e: DataFrame, deg: DataFrame, nEdges: Long,
                             broadcastClosureThreshold: Long): DataFrame = {
    val (oriented, adj, adjBc) =
      orientedAdjacency(s, e, deg, nEdges, broadcastClosureThreshold, flagged = false)
    wedgeJoin(oriented, adj, adjBc)
      .select(col("x"), col("y"),
        explode(array_intersect(col("__nu"), col("__nv"))).as("z"))
  }

  /** The two adjacency attachments of the wedge core, in the shape the
    * broadcast gate decides (r20, guide §2.3/§3.1 — measured on the i05/i17
    * profiles at sf0.1): the former keyed double join re-exchanged the
    * src-adjacency ARRAY with every oriented edge row through the dst
    * shuffle — Σ outdeg(src)·|adj(src)| = the WEDGE VOLUME as shuffle bytes
    * (158 MB at sf0.1 for i05 vs 12 MB of actual adjacency data), and the
    * un-persisted adjacency aggregate's exchange was NOT deduped across the
    * two differently-renamed sides (two 13 MB builds). Under the same
    * guarded edge-count threshold the closure broadcast already uses
    * (adjacency payload is |E| elements — ~80 MB packed longs at the 10 M
    * default, inside the "few hundred MB is fine" broadcast band), both
    * sides now join against ONE broadcast of the SAME adjacency plan
    * (SubqueryAlias-only wrappers, so the two BroadcastExchanges
    * canonicalize identically and the second is a ReusedExchange): the
    * aggregate runs once, nothing fat is ever re-exchanged. Above the
    * threshold the former keyed joins run UNCHANGED — the 100 TB path is
    * identical, this is strictly the broadcast-the-side-that-fits rule. */
  private def wedgeJoin(oriented: DataFrame, adj: DataFrame,
                        adjBroadcastable: Boolean): DataFrame = {
    if (adjBroadcastable) {
      val o = oriented.as("o")
      val aU = broadcast(adj.as("aU"))
      val aV = broadcast(adj.as("aV"))
      o.join(aU, col("o.src") === col("aU.src"))
        .join(aV, col("o.dst") === col("aV.src"))
        .select((col("o.src").as("x") +: col("o.dst").as("y") +:
          col("aU.nbrs").as("__nu") +: col("aV.nbrs").as("__nv") +:
          (if (oriented.columns.contains("fl")) Seq(col("o.fl")) else Nil)): _*)
    } else {
      oriented
        .join(adj.select(col("src"), col("nbrs").as("__nu")), Seq("src"))
        .join(adj.select(col("src").as("dst"), col("nbrs").as("__nv")), Seq("dst"))
        .withColumnRenamed("src", "x").withColumnRenamed("dst", "y")
    }
  }

  /** The orientation prelude shared by [[wedgeTriangles]] and
    * [[flaggedTriangles]]: canonical (u, v[, fw, bw]) edges + their degree
    * table → the degree-oriented edge set and the per-vertex sorted
    * out-adjacency array (`dst`, or `dst·4 + fl` with the canonical pair
    * flags packed into the low bits when `flagged`). `oriented` is
    * cached (it feeds the adjacency aggregate AND the probe side).
    *
    * The degree table is vertex-sized (≤ 2·|E| rows) — broadcast into the
    * orientation joins under the guarded threshold (measured ~30× on the
    * orientation at sf0.1: the edge set stops shuffling twice). */
  private def orientedAdjacency(s: CacheScope, e: DataFrame, deg: DataFrame, nEdges: Long,
                                broadcastClosureThreshold: Long,
                                flagged: Boolean): (DataFrame, DataFrame, Boolean) = {
    // The broadcast side is the VERTEX-sized degree table, not the edge
    // set — and vertices can be orders of magnitude fewer (the i05 part
    // graph: 12 M edges over 200 K vertices / ~3 MB at 10× sf0.1, where
    // the edge-count proxy alone dropped the hint — the r16 triage; the
    // broadcast is worth ~12% end-to-end there, min-of-3). Past the free
    // edge-count fast path, ONE shuffle-free approx-distinct pass over
    // the cached edge set (HLL partials, no exchange — an exact
    // deg.count() shuffle was measured to eat the entire gain) decides
    // against the 2×threshold row bound the edge proxy already tolerated
    // in its worst case (|V| ≤ 2|E|); the 5% HLL error is hint-slack, not
    // correctness — AQE still re-plans whichever way the hint goes.
    // threshold ≤ 0 still means NO hint anywhere — the over-threshold
    // regime the 100 TB scale smoke simulates.
    val degBroadcastable =
      nEdges <= broadcastClosureThreshold ||
        (broadcastClosureThreshold > 0 &&
          e.select(explode(array(col("u"), col("v"))).as("id"))
            .agg(approx_count_distinct(col("id"), 0.05)).head().getLong(0)
            <= 2L * broadcastClosureThreshold)
    // Both sides join the SAME deg plan under SubqueryAlias-only wrappers
    // (r20): the former per-side select-rename sat BELOW the broadcast
    // hint, so the two BroadcastExchange children canonicalized differently
    // and the vertex-degree aggregate was BUILT TWICE (profiled as two
    // full-agg stages per wedge pass at sf0.1). Aliases are erased before
    // physical planning, so the second exchange is now a ReusedExchange —
    // one build; the keyed over-threshold path is unchanged (different
    // join keys never shared an exchange).
    def degSide(alias: String) = {
      val d = deg.as(alias)
      if (degBroadcastable) broadcast(d) else d
    }
    val ed = e
      .join(degSide("dU"), col("u") === col("dU.id"))
      .join(degSide("dV"), col("v") === col("dV.id"))
      .withColumn("du", col("dU.deg")).withColumn("dv", col("dV.deg"))
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val src = when(uFirst, col("u")).otherwise(col("v"))
    val dst = when(uFirst, col("v")).otherwise(col("u"))
    val oriented = s.pin(if (flagged)
        // fl packs the CANONICAL (u<v) flags — fw·2 + bw — so the value is
        // orientation-independent and decodes the same way on every side
        ed.select(src.cast("long").as("src"), dst.cast("long").as("dst"),
          (col("fw") * 2 + col("bw")).cast("long").as("fl"))
      else ed.select(src.as("src"), dst.as("dst")), "triangleCounts.oriented")
    val adjElem = if (flagged) col("dst") * 4 + col("fl") else col("dst")
    val adjBc = nEdges <= broadcastClosureThreshold
    val adj0 = oriented.groupBy(col("src"))
      .agg(sort_array(collect_list(adjElem)).as("nbrs"))
    // Under the broadcast gate the aggregate feeds TWO BroadcastExchange
    // builds that do NOT share a runtime stage, so the adjacency is cached;
    // above it the keyed joins share the aggregate's exchange via reuse
    // (see the exception list in [[CacheScope]])
    val adj = if (adjBc) s.pin(adj0, "triangleCounts.adjacency") else adj0
    // adjacency broadcast gate (consumed by [[wedgeJoin]]): the adjacency
    // payload is |E| packed longs, so the EDGE-count threshold is the right
    // guard for it (10 M default ⇒ ~80 MB) — reuse the caller's closure
    // threshold; threshold ≤ 0 still means no hint anywhere
    (oriented, adj, adjBc)
  }

  /** [[wedgeTriangles]] over a DIRECTION-FLAGGED pair table — the directed
    * census core. Input `pairs` is (u, v, fw, bw) with u < v (fw = u→v
    * present, bw = v→u). Output: one row per undirected-projection
    * triangle with corners (x, y, z) (x→y the orientation base edge, z
    * the common out-neighbor) AND all three pairs' canonical flags
    * (fwxy, bwxy, fwxz, bwxz, fwyz, bwyz — each relative to the pair's
    * OWN min/max order, not the corner order).
    *
    * The point vs joining flags back on: each adjacency element packs the
    * pair's canonical flags into its low two bits (`dst·4 + fl` — sorted
    * by the packed value IS sorted by dst), and the codegen'd merge walk
    * ([[graft.functions.SortedIntersectPacked]] with `flagBits = 2`)
    * matches on the id bits while carrying BOTH sides' flags into the
    * emitted element — so the two wedge-leg pairs' flags come out of the
    * SAME two vertex-keyed joins the listing already does, the base
    * pair's flags ride the oriented edge row, and the former 3
    * triangle⋈pair shuffle joins (each |T| rows against |E| pairs)
    * disappear entirely, with no auxiliary lookup structure at all. */
  private def flaggedTriangles(s: CacheScope, pairs: DataFrame, deg: DataFrame,
                               nEdges: Long, broadcastClosureThreshold: Long): DataFrame = {
    val (oriented, adj, adjBc) =
      orientedAdjacency(s, pairs, deg, nEdges, broadcastClosureThreshold, flagged = true)
    wedgeJoin(oriented, adj, adjBc)
      .select(col("x"), col("y"), col("fl").as("flxy"),
        // packed match: (z << 4) | (flags of {x,z} << 2) | flags of {y,z}
        explode(graft.functions.SortedIntersectPacked(
          col("__nu"), col("__nv"), 2)).as("e"))
      .select(col("x"), col("y"), shiftright(col("e"), 4).as("z"),
        shiftright(col("flxy"), 1).as("fwxy"), col("flxy").bitwiseAND(1).as("bwxy"),
        shiftright(col("e"), 3).bitwiseAND(1).as("fwxz"),
        shiftright(col("e"), 2).bitwiseAND(1).as("bwxz"),
        shiftright(col("e"), 1).bitwiseAND(1).as("fwyz"),
        col("e").bitwiseAND(1).as("bwyz"))
  }

  /** Graph SUMMARIZATION — the Gelly Summarization analog (reference
    * flink-libraries/flink-gelly/src/main/java/org/apache/flink/graph/
    * library/Summarization.java): condense a vertex-valued graph by
    * grouping vertices on their value — each output vertex is a group
    * (represented by one member id) with its member count, and each
    * output edge (srcGroup, dstGroup, edgeValue) carries the count of
    * input edges with that value between members of those groups
    * (self-group edges represent intra-group edges, exactly the
    * reference's example). The reference picks an arbitrary member as
    * the representative; we pin MIN(id) — still "one of the represented
    * vertex identifiers" per its contract, and deterministic.
    *
    * Output is the summarized EDGE relation with both endpoint groups
    * inlined — (src, src_value, src_group_size, dst, dst_value,
    * dst_group_size, edge_value, edge_count). The distinct endpoint
    * projection recovers every group that has at least one incident
    * edge; a group whose members are ALL isolated (no incident edges)
    * does not appear here — the reference emits such groups as output
    * vertices, so use [[summarizationVertices]] for the complete output
    * vertex set (one row per group, isolated or not).
    *
    * Scale shape: the group table (one row per distinct vertex value) is
    * aggregated once and — while its PLAN-TIME size estimate fits under
    * the GUARDED threshold — broadcast into the id→representative mapping
    * (high-cardinality grouping values can make it near-|V|, where a hard
    * hint would throw past maxBroadcastTableBytes; above the threshold
    * the join shuffles and AQE still broadcasts at runtime when the side
    * actually fits). The guard reads Catalyst's statistics instead of
    * running a driver-side count: the count was a whole extra job that
    * doubled small-graph wall time, while the estimate is free and errs
    * toward the safe side (it upper-bounds by the vertex scan, so a huge
    * vertex table with few groups plans the shuffle and lets AQE
    * broadcast the actually-tiny aggregate at runtime). Edges then take
    * two keyed equi-joins (shuffle on vertex id, the natural edge
    * partitioning) and one hash aggregate on (srcRep, dstRep, value) —
    * the broadcast exchange of the group table is REUSED across both
    * joins, and nothing is cached (see [[CacheScope]]). No iteration, no
    * cartesian, no window.
    *
    * @param broadcastGroupBytesThreshold max ESTIMATED bytes (plan statistics)
    *   of the group aggregate for which a hard broadcast hint is planned */
  def summarization(vertices: DataFrame, idCol: String, valCol: String,
                    edges: DataFrame, srcCol: String, dstCol: String,
                    evCol: String,
                    broadcastGroupBytesThreshold: Long = 10000000L): DataFrame = {
    val v = vertices.select(col(idCol).cast("long").as("id"), col(valCol).as("vv"))
      .distinct()
    // one row per group: representative + size
    val groups = v.groupBy("vv").agg(min(col("id")).as("rep"), count(lit(1)).as("gsize"))
    val est = groups.queryExecution.optimizedPlan.stats.sizeInBytes
    val groupsSide =
      if (est <= broadcastGroupBytesThreshold) broadcast(groups) else groups
    val mapping = v.join(groupsSide, Seq("vv"))
      .select(col("id"), col("rep"), col("vv"), col("gsize"))
    val e = edges.select(col(srcCol).cast("long").as("es"),
      col(dstCol).cast("long").as("ed"), col(evCol).as("ev"))
    e.join(mapping.select(col("id").as("es"), col("rep").as("src"),
        col("vv").as("src_value"), col("gsize").as("src_group_size")), Seq("es"))
      .join(mapping.select(col("id").as("ed"), col("rep").as("dst"),
        col("vv").as("dst_value"), col("gsize").as("dst_group_size")), Seq("ed"))
      .groupBy("src", "src_value", "src_group_size",
        "dst", "dst_value", "dst_group_size", "ev")
      .agg(count(lit(1)).as("edge_count"))
      .withColumnRenamed("ev", "edge_value")
  }

  /** The COMPLETE output vertex set of [[summarization]] — one row per
    * group `(id, value, group_size)` with `id` = MIN member id, INCLUDING
    * groups whose members have no incident edges (which the edge relation
    * cannot carry; the reference's Summarization emits all groups as
    * output vertices). One hash aggregate over the vertex table — no
    * join, no edges read. */
  def summarizationVertices(vertices: DataFrame, idCol: String,
                            valCol: String): DataFrame = {
    vertices.select(col(idCol).cast("long").as("vid"), col(valCol).as("vv"))
      .distinct()
      .groupBy("vv").agg(min(col("vid")).as("id"), count(lit(1)).as("group_size"))
      .select(col("id"), col("vv").as("value"), col("group_size"))
  }

  /** COMMUNITY DETECTION with hop-attenuated label scores — the Gelly
    * CommunityDetection analog (reference flink-libraries/flink-gelly/
    * src/main/java/org/apache/flink/graph/library/CommunityDetection.java,
    * the Leung et al. algorithm): every vertex starts with label = its id
    * and score 1.0; each superstep every vertex sends (label, score) to
    * its out-neighbors, adopts the received label with the HIGHEST SUMMED
    * score (sum ties → LOWEST label, the reference gather function's
    * ascending-TreeMap + strict-> iteration), takes as its new score the
    * highest SINGLE received score of that label, and subtracts the hop
    * attenuation delta/superstep iff the label changed. A vertex with no
    * in-messages keeps its state. Supply both edge directions for the
    * undirected semantics the reference's getUndirected() sets up.
    *
    * Cross-engine determinism: scores live as ×10⁶-scaled LONGS (initial
    * 10⁶; the per-superstep attenuation `round(delta·10⁶/k)` is
    * pre-computed driver-side and inlined as a literal), so every
    * aggregate is exact integer arithmetic — order-free sums, no float Σ.
    * The oracle unrolls each superstep with the same literals.
    *
    * Scale shape as [[labelPropagation]]: edges pre-partitioned on src
    * once; each superstep is one keyed join + two hash aggregates
    * (sum+max per (dst, label), then one max_by per dst), eager lineage
    * truncation per round. Output: (id, community, score). */
  def communityDetection(edges: DataFrame, srcCol: String, dstCol: String,
                         iters: Int, delta: Double = 0.5): DataFrame = CacheScope { s =>
    val e = loopEdges(s, edges, srcCol, dstCol)
    val verts = e.select(explode(array(col("src"), col("dst"))).as("id")).distinct()
    var state = s.cut(verts.select(col("id"), col("id").as("lab"), lit(1000000L).as("sc6")),
      eager = true)
    (1 to iters).foreach { k =>
      val dec = Math.round(delta * 1e6 / k) // driver-side literal, both engines
      val prev = state
      val perLabel = e.join(state.select(col("id").as("sid"), col("lab"), col("sc6")),
          col("src") === col("sid"))
        .groupBy(col("dst").as("id"), col("lab"))
        .agg(sum(col("sc6")).as("tot"), max(col("sc6")).as("best"))
      // winner: max summed score, ties to the LOWEST label (struct order
      // (tot, -lab) is unique per group — labels are distinct within it);
      // carry that label's best single message score for the re-score
      val win = perLabel.groupBy("id").agg(
        max(struct(col("tot"), (-col("lab")).as("nl"), col("lab"), col("best"))).as("w"))
        .select(col("id"), col("w.lab").as("wlab"), col("w.best").as("wbest"))
      state = state.join(win, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("wlab"), col("lab")).as("lab2"),
          when(col("wlab").isNull, col("sc6"))
            .when(col("wlab") === col("lab"), col("wbest"))
            .otherwise(col("wbest") - lit(dec)).as("sc62"))
        .select(col("id"), col("lab2").as("lab"), col("sc62").as("sc6"))
      state = s.cut(state, eager = true)
      s.free(prev)
    }
    state.select(col("id"), col("lab").as("community"),
      (col("sc6").cast("double") / lit(1000000.0)).as("score"))
  }

  /** Whole-graph VERTEX METRICS — the Gelly analytic (reference
    * flink-libraries/flink-gelly/src/main/java/org/apache/flink/graph/
    * library/metric/undirected/VertexMetrics.java): vertex count, edge
    * count (each undirected edge counted once), average degree 2E/V,
    * density E/(V(V−1)/2), triplet count Σ d(d−1)/2, maximum degree,
    * maximum triplets. Input: an undirected edge list (either or both
    * directions; canonicalized + distinct'd, self-loops dropped).
    * Single-row output; the two ratios are one IEEE division each over
    * integer-exact operands — bit-identical cross-engine, no rounding.
    *
    * Scale shape: one distinct (shuffle on the canonical edge), one
    * degree hash-agg, one global agg — the same two-level tree any
    * engine bottoms out at; nothing quadratic anywhere. */
  def vertexMetrics(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val deg = degrees(canonicalEdges(edges, srcCol, dstCol))
    // n_edges = Σdeg/2 off the SAME degree table (r21, guide §2.4): every
    // canonical edge contributes exactly 2 to Σdeg, so one aggregate tree
    // suffices. Σdeg is even, the division exact.
    val vm = deg.agg(
      count(lit(1)).as("n_vertices"),
      (sum(col("deg")) / 2).cast("long").as("n_edges"),
      sum(col("deg") * (col("deg") - 1) / 2).as("n_triplets"),
      max(col("deg")).as("max_degree"),
      max(col("deg") * (col("deg") - 1) / 2).as("max_triplets"))
    vm.select(
      col("n_vertices"),
      // an empty or self-loop-only graph has no degree rows, so Σdeg is
      // NULL; Gelly reports 0 edges. The ratios below read the raw NULL and
      // stay NULL there rather than dividing 0 by 0 vertices.
      coalesce(col("n_edges"), lit(0L)).as("n_edges"),
      (col("n_edges").cast("double") * 2.0 / col("n_vertices").cast("double"))
        .as("avg_degree"),
      (col("n_edges").cast("double") /
        (col("n_vertices") * (col("n_vertices") - 1) / 2).cast("double"))
        .as("density"),
      col("n_triplets").cast("long").as("n_triplets"),
      col("max_degree"),
      col("max_triplets").cast("long").as("max_triplets"))
  }

  /** Whole-graph EDGE METRICS — the Gelly analytic (reference
    * flink-libraries/flink-gelly/src/main/java/org/apache/flink/graph/
    * library/metric/undirected/EdgeMetrics.java): per vertex v, its
    * LOW-ORDER degree `low` counts incident edges (v, u) with
    * (deg(v), v) < (deg(u), u) — the same total order triangleCounts
    * orients by; triangleTriplets(v) = C(low, 2), rectangleTriplets(v) =
    * C(low, 2) + low·(deg−low). Output (single row): the SUM and MAX of
    * each over all vertices — (triangle_triplet_count,
    * rectangle_triplet_count, max_triangle_triplets,
    * max_rectangle_triplets), all integer-exact.
    *
    * Scale shape: canonicalize+distinct, one degree agg, one keyed join
    * of the both-direction edge view against the degree table (keyed —
    * the degree table is one row per VERTEX, so it broadcasts only when
    * AQE decides it fits; forcing it would break at 10⁹ vertices), two
    * hash aggregates. No wedge join — this is the o(triangle-listing)
    * CHEAP estimator the reference positions it as. */
  def edgeMetrics(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = CacheScope { s =>
    val e = s.pin(canonicalEdges(edges, srcCol, dstCol), "edgeMetrics.edges")
    // deg feeds BOTH endpoint joins, whose broadcast builds do not share an
    // exchange
    val deg = s.pin(degrees(e), "edgeMetrics.degrees")
    // every incident edge from each endpoint's perspective
    val both = e.select(col("u").as("a"), col("v").as("b"))
      .union(e.select(col("v").as("a"), col("u").as("b")))
    val stats = both
      .join(deg.as("dA"), col("a") === col("dA.id"))
      .join(deg.as("dB"), col("b") === col("dB.id"))
      .groupBy(col("a").as("id"))
      .agg(max(col("dA.deg")).as("d"),
        sum(when(col("dA.deg") < col("dB.deg") ||
          (col("dA.deg") === col("dB.deg") && col("a") < col("b")), 1L)
          .otherwise(0L)).as("low"))
      .select(col("id"),
        (col("low") * (col("low") - 1) / 2).cast("long").as("tri"),
        (col("low") * (col("low") - 1) / 2 + col("low") * (col("d") - col("low")))
          .cast("long").as("rect"))
    stats.agg(
      sum(col("tri")).cast("long").as("triangle_triplet_count"),
      sum(col("rect")).cast("long").as("rectangle_triplet_count"),
      max(col("tri")).as("max_triangle_triplets"),
      max(col("rect")).as("max_rectangle_triplets"))
  }

  /** Whole-graph CLUSTERING STATS — the three remaining Gelly
    * clustering/undirected analytics in one single-row relation
    * (reference flink-libraries/flink-gelly/.../library/clustering/
    * undirected/AverageClusteringCoefficient.java,
    * GlobalClusteringCoefficient.java, TriadicCensus.java):
    *  - avg_cc = Σ lcc / V (degree<2 vertices contribute 0, as the
    *    reference's LCC does). Cross-engine determinism: each 6-dp lcc is
    *    scaled to an exact ×10⁶ integer BEFORE the Σ (the engine's
    *    scaled-integer convention — the reference's raw double Σ is
    *    order-dependent), divided back once.
    *  - global_cc = 3T / triplets (the reference counts each triangle
    *    from its three vertices).
    *  - triadic census (exactly the reference's closed forms over V, E,
    *    triplets, T): 30 = T; 21 = triplets − 3T; 12 = E(V−2) − 2·c21 −
    *    3·c30; 03 = C(V,3) − c12 − c21 − c30. Integer-exact; C(V,3)
    *    overflows 2⁶³ past V ≈ 3·10⁶ — past that, widen to decimal (the
    *    reference widens to BigInteger for the same reason).
    *
    * Builds on [[triangleCounts]] (the per-vertex tri/lcc table) — ONE
    * global aggregate over it; the edge count is Σdeg/2 off the same
    * table, so the canonical edge set is never re-derived. */
  def clusteringStats(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    clusteringStatsOf(triangleCounts(edges, srcCol, dstCol))

  /** The shared-wedge-pass clustering bundle: `triangles` is the
    * [[triangleCounts]] per-vertex table (CACHED — call `unpersist()`
    * when done), `stats` the [[clusteringStats]]
    * row aggregated FROM it, `census` the [[directedClusteringStats]] row
    * when the bundle came from a directed graph. Running several
    * clustering analytics used to cost one wedge join EACH — the bundle
    * runs it once. */
  final case class ClusteringBundle(triangles: DataFrame, stats: DataFrame,
                                    census: Option[DataFrame],
                                    interim: Seq[DataFrame] = Nil) {
    /** Frees the cached per-vertex table AND the bundle's interim
      * frames (every frame the bundle's [[CacheScope]] cached for the
      * shared wedge pass — without freeing them here each bundle call
      * would leak cached frames for the session lifetime).
      *
      * CAVEAT — Spark's cache is keyed by CANONICALIZED PLAN: two bundles
      * built over canonically identical edges share cache entries, so
      * unpersisting one (including [[directedClusteringStats]]' internal
      * bundle) evicts the other's too — its later reads silently
      * recompute the wedge pass (correct, just not cached). Hold ONE
      * bundle per graph and read everything through it. */
    def unpersist(): Unit = {
      triangles.unpersist(); interim.foreach(_.unpersist()); ()
    }
  }

  /** Materialize a SINGLE-ROW (or tiny) bundle-derived result and free
    * the bundle that produced it — the census-only/i21 localization
    * shared in one place: collect first, free after, return a local
    * relation (a lazy return could never free the interim frames). */
  private[graft] def sealRows(df: DataFrame, b: ClusteringBundle): DataFrame = {
    val rows = df.collect()
    b.unpersist()
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** UNDIRECTED [[ClusteringBundle]]: triangle counts + clustering stats
    * from one wedge pass over the simple undirected graph. */
  def clusteringBundle(edges: DataFrame, srcCol: String, dstCol: String,
                       broadcastClosureThreshold: Long = 10000000L): ClusteringBundle =
    CacheScope.handOver { s =>
      val perVertex = s.keep(
        triangleCountsIn(s, edges, srcCol, dstCol, broadcastClosureThreshold))
      ClusteringBundle(perVertex, clusteringStatsOf(perVertex), None, interim = s.frames)
    }

  /** [[clusteringStats]] from an ALREADY-COMPUTED [[triangleCounts]] table
    * — the aggregation alone, so a cached per-vertex triangle table
    * (see [[clusteringBundle]]) serves both analytics from one wedge
    * pass. */
  def clusteringStatsOf(perVertexTriangleCounts: DataFrame): DataFrame = {
    perVertexTriangleCounts.agg(
      count(lit(1)).as("nv"),
      (sum(col("degree")) / 2).cast("long").as("n_edges"),
      sum(col("n_triangles")).cast("long").as("tri3"), // = 3T
      sum(col("degree") * (col("degree") - 1) / 2).cast("long").as("triplets"),
      sum(round(col("lcc") * 1000000).cast("long")).as("lcc6"))
      .withColumn("t30", (col("tri3") / 3).cast("long"))
      .withColumn("t21", col("triplets") - col("tri3"))
      .withColumn("t12", col("n_edges") * (col("nv") - 2)
        - lit(2L) * col("t21") - lit(3L) * col("t30"))
      .withColumn("t03",
        // C(V,3) INTEGER-EXACT: nv(nv-1) is even so div 2 is exact, and
        // the result times (nv-2) is divisible by 3 — no double rounding
        // (the old /6-then-cast went through a double, whose truncating
        // cast diverges from DuckDB's rounding CAST past 2^53 ≈ V 2·10⁵).
        // Exact until the product overflows 2^63 at V ≈ 2.6·10⁶; past
        // that, widen to decimal (the reference widens to BigInteger).
        (expr("(nv * (nv - 1)) div 2 * (nv - 2) div 3")
          - col("t12") - col("t21") - col("t30")))
      .select(
        col("nv").as("n_vertices"), col("n_edges"),
        col("triplets").as("n_triplets"), col("t30").as("n_triangles"),
        (col("tri3").cast("double") / col("triplets").cast("double")).as("global_cc"),
        (col("lcc6").cast("double") / (lit(1000000.0) * col("nv"))).as("avg_cc"),
        col("t03").as("triads_03"), col("t12").as("triads_12"),
        col("t21").as("triads_21"), col("t30").as("triads_30"))
  }

  /** DIRECTED clustering stats + FULL 16-type triadic census — the Gelly
    * clustering/directed analytics (reference flink-libraries/flink-gelly/
    * .../library/clustering/directed/TriadicCensus.java,
    * LocalClusteringCoefficient.java, AverageClusteringCoefficient.java,
    * GlobalClusteringCoefficient.java), closing the directed half of the
    * clustering family. Semantics follow the reference exactly:
    *
    *  - Per unordered vertex pair: `fw`/`bw` direction flags over the
    *    simple digraph (dedup, self-loops dropped) — a pair is
    *    UNIDIRECTIONAL or BIDIRECTIONAL.
    *  - Per vertex (reference VertexDegrees): degree d = distinct
    *    neighbors, uni-as-source = d − in, uni-as-target = d − out,
    *    bi = in + out − d; the six RAW open-triplet counts are the
    *    reference helper's per-vertex products, summed.
    *  - Per undirected triangle (the SAME degree-oriented edge-iterator
    *    core as [[triangleCounts]], with all three pairs' direction flags
    *    carried out of the listing itself — see [[flaggedTriangles]]):
    *    classified into the seven closed triad types
    *    by its pair flags — 300 (3 bi), 210 (2 bi), 120d/120u/120c (1 bi;
    *    the third vertex is common source / common sink / mixed), and
    *    030c vs 030t (0 bi; cyclic iff every within-triangle out-degree
    *    is exactly 1).
    *  - The 16 census counts then follow the reference's exact
    *    subtraction chain and closed forms (BigInteger there; integer-
    *    exact BIGINT arithmetic with `div` here — both engines compute
    *    identically, overflowing only past the same ~2.6·10⁶-vertex bound
    *    as [[clusteringStats]]'s C(V,3)).
    *  - Directed LCC (reference directed LocalClusteringCoefficient):
    *    numerator per vertex = DIRECTED edges between its neighbors
    *    (each triangle contributes its opposite pair's 1-or-2 edge
    *    count), denominator d(d−1); degree < 2 pinned to 0 (the engine's
    *    i15 convention — the reference emits NaN). avg_cc sums ×10⁶
    *    scaled-integer scores (order-free); global_cc = Σ numerators /
    *    Σ d(d−1) — closed ordered triplets over all ordered triplets —
    *    one IEEE division of exact integers.
    *
    * Scale shape: everything is keyed equi-joins + hash aggregates off the
    * one cached pair table; the triangle core reuses the guarded-
    * broadcast wedge join. Output: ONE row — (n_vertices, n_uni_edges,
    * n_bi_edges, global_cc, avg_cc, t003, t012, t102, t021d, t021u,
    * t021c, t111d, t111u, t030t, t030c, t201, t120d, t120u, t120c, t210,
    * t300). */
  def directedClusteringStats(edges: DataFrame, srcCol: String, dstCol: String,
                              broadcastClosureThreshold: Long = 10000000L): DataFrame = {
    // census-only consumers never see the bundle handle: materialize the
    // single census row, free the bundle, return a local relation
    val b = directedClusteringBundle(edges, srcCol, dstCol, broadcastClosureThreshold)
    sealRows(b.census.get, b)
  }

  /** The DIRECTED clustering bundle: [[directedClusteringStats]]' census
    * row PLUS the undirected-projection [[triangleCounts]] table and
    * [[clusteringStats]] row, all off ONE wedge pass (the classified
    * triangle listing and the pair table are cached and shared) — the
    * i05/i15/i17 analytics without recomputing the wedge join per
    * consumer. */
  def directedClusteringBundle(edges: DataFrame, srcCol: String, dstCol: String,
                               broadcastClosureThreshold: Long = 10000000L): ClusteringBundle =
    CacheScope.handOver { s =>
    val de = s.keep(edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    // pair table (u < v): fw = u→v present, bw = v→u present
    val pairs = s.keep(de.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"),
        (col("src") < col("dst")).cast("int").as("isFw"))
      .groupBy("u", "v")
      .agg(max(col("isFw")).as("fw"), max(lit(1) - col("isFw")).as("bw")))
    val nPairs = pairs.count() // materialize; gates the closure broadcast
    // cached for the same multi-consumer reason as triangleCounts' deg
    // (orientation broadcasts + vstats + the per-vertex tail)
    val deg = s.keep(degrees(pairs))
    // a vertex of the pair table always appears in `de`, so the left join
    // semantics are those of the former separate outd/ind joins
    val vstats = s.keep(deg.join(inOutDegrees(de), Seq("id"), "left_outer")
      .select(col("id"), col("deg"),
        (col("deg") - coalesce(col("indeg"), lit(0L))).as("us"),
        (col("deg") - coalesce(col("od"), lit(0L))).as("ut"),
        (coalesce(col("indeg"), lit(0L)) + coalesce(col("od"), lit(0L)) - col("deg")).as("bi")))
    val rawAgg = vstats.agg(
      count(lit(1)).as("vc"),
      expr("sum(us + ut) div 2").as("uec"),
      expr("sum(bi) div 2").as("bec"),
      expr("sum(us * (us - 1) div 2)").as("r021d"),
      expr("sum(ut * (ut - 1) div 2)").as("r021u"),
      expr("sum(us * ut)").as("r021c"),
      expr("sum(ut * bi)").as("r111d"),
      expr("sum(us * bi)").as("r111u"),
      expr("sum(bi * (bi - 1) div 2)").as("r201"),
      expr("sum(deg * (deg - 1))").as("triplets"))
    // triangle listing over the undirected projection WITH all three
    // pairs' direction flags carried out of the edge-iterator itself —
    // no triangle⋈pair re-joins (see [[flaggedTriangles]])
    // directed-edge presence a→b from a pair's canonical min/max flags
    def dirTo(a: Column, b: Column, fw: Column, bw: Column): Column =
      when(a < b, fw).otherwise(bw)
    def opp120(w: String, a: String, b: String,
               fwWA: String, bwWA: String, fwWB: String, bwWB: String): Column = {
      // one bi pair {a,b}: classify by the opposite vertex w's edges into
      // it — w → both = common source → 120d, both → w = sink → 120u
      val s = dirTo(col(w), col(a), col(fwWA), col(bwWA)) +
        dirTo(col(w), col(b), col(fwWB), col(bwWB))
      when(s === 2, "120d").when(s === 0, "120u").otherwise("120c")
    }
    val trip = s.keep(flaggedTriangles(s, pairs, deg, nPairs, broadcastClosureThreshold)
      .withColumn("bixy", col("fwxy") * col("bwxy"))
      .withColumn("bixz", col("fwxz") * col("bwxz"))
      .withColumn("biyz", col("fwyz") * col("bwyz"))
      .withColumn("nbi", col("bixy") + col("bixz") + col("biyz"))
      .withColumn("ttype",
        when(col("nbi") === 3, "300")
          .when(col("nbi") === 2, "210")
          .when(col("nbi") === 1,
            when(col("bixy") === 1,
              opp120("z", "x", "y", "fwxz", "bwxz", "fwyz", "bwyz"))
              .when(col("bixz") === 1,
                opp120("y", "x", "z", "fwxy", "bwxy", "fwyz", "bwyz"))
              .otherwise(
                opp120("x", "y", "z", "fwxy", "bwxy", "fwxz", "bwxz")))
          // 0 bi: cyclic iff every within-triangle out-degree is exactly 1
          .otherwise(when(greatest(
              dirTo(col("x"), col("y"), col("fwxy"), col("bwxy")) +
                dirTo(col("x"), col("z"), col("fwxz"), col("bwxz")),
              dirTo(col("y"), col("x"), col("fwxy"), col("bwxy")) +
                dirTo(col("y"), col("z"), col("fwyz"), col("bwyz")),
              dirTo(col("z"), col("x"), col("fwxz"), col("bwxz")) +
                dirTo(col("z"), col("y"), col("fwyz"), col("bwyz"))) === 1,
            "030c").otherwise("030t"))))
    def tcount(t: String) =
      coalesce(sum(when(col("ttype") === t, 1L).otherwise(0L)), lit(0L))
    val triAgg = trip.agg(
      tcount("030t").as("t030t"), tcount("030c").as("t030c"),
      tcount("120d").as("t120d"), tcount("120u").as("t120u"),
      tcount("120c").as("t120c"), tcount("210").as("t210"),
      tcount("300").as("t300"))
    // directed LCC numerator: each triangle adds its OPPOSITE pair's
    // directed-edge count (1 or 2) at each vertex
    // ONE corner-explode pass over the cached triangle listing yields
    // BOTH per-vertex tables: the triangle count (the undirected bundle
    // member) and the directed-LCC numerator — each triangle contributes
    // its OPPOSITE pair's 1-or-2 directed-edge count at each corner.
    // (The former shape scanned trip four times: a 3-way union for the
    // numerators plus perVertexTriangles' own explode.)
    val corner = s.keep(trip.select(explode(array(
        struct(col("x").as("id"), (col("fwyz") + col("bwyz")).cast("long").as("w")),
        struct(col("y").as("id"), (col("fwxz") + col("bwxz")).cast("long").as("w")),
        struct(col("z").as("id"), (col("fwxy") + col("bwxy")).cast("long").as("w"))))
        .as("c"))
      .groupBy(col("c.id").as("id"))
      .agg(count(lit(1)).as("tri"), sum(col("c.w")).cast("long").as("numer")))
    val lccAgg = vstats.join(corner.select(col("id"), col("numer")),
        Seq("id"), "left_outer")
      .select(col("deg"), coalesce(col("numer"), lit(0L)).as("numer"))
      .agg(
        sum(when(col("deg") >= 2, round(round(
            col("numer").cast("double") /
              (col("deg") * (col("deg") - 1)).cast("double"), 6) * 1000000))
          .otherwise(lit(0.0)).cast("long")).as("lcc6"),
        sum(col("numer")).cast("long").as("closed_triplets"))
    val census = rawAgg.crossJoin(triAgg).crossJoin(lccAgg)
      // the reference's exact subtraction chain (open triplets lose the
      // triplets their containing triangles already counted)
      .withColumn("t201", col("r201") - lit(3L) * col("t300") - col("t210"))
      .withColumn("t111d", col("r111d") - col("t210") - col("t120c") - lit(2L) * col("t120d"))
      .withColumn("t111u", col("r111u") - col("t210") - col("t120c") - lit(2L) * col("t120u"))
      .withColumn("t021c", col("r021c") - col("t120c") - lit(3L) * col("t030c") - col("t030t"))
      .withColumn("t021u", col("r021u") - col("t120u") - col("t030t"))
      .withColumn("t021d", col("r021d") - col("t120d") - col("t030t"))
      .withColumn("t102", col("bec") * (col("vc") - 2)
        - col("t111d") - col("t111u") - lit(2L) * col("t201")
        - col("t120d") - col("t120u") - col("t120c")
        - lit(2L) * col("t210") - lit(3L) * col("t300"))
      .withColumn("t012", col("uec") * (col("vc") - 2)
        - lit(2L) * (col("t021d") + col("t021u") + col("t021c"))
        - col("t111d") - col("t111u")
        - lit(3L) * (col("t030t") + col("t030c"))
        - lit(2L) * (col("t120d") + col("t120u") + col("t120c"))
        - col("t210"))
      .withColumn("t003",
        expr("vc * (vc - 1) div 2 * (vc - 2) div 3")
          - col("t012") - col("t102")
          - col("t021d") - col("t021u") - col("t021c")
          - col("t111d") - col("t111u") - col("t030t") - col("t030c")
          - col("t201") - col("t120d") - col("t120u") - col("t120c")
          - col("t210") - col("t300"))
      .select(
        col("vc").as("n_vertices"), col("uec").as("n_uni_edges"),
        col("bec").as("n_bi_edges"),
        when(col("triplets") > 0,
          col("closed_triplets").cast("double") / col("triplets").cast("double"))
          .otherwise(lit(0.0)).as("global_cc"),
        (col("lcc6").cast("double") / (lit(1000000.0) * col("vc"))).as("avg_cc"),
        col("t003"), col("t012"), col("t102"), col("t021d"), col("t021u"),
        col("t021c"), col("t111d"), col("t111u"), col("t030t"), col("t030c"),
        col("t201"), col("t120d"), col("t120u"), col("t120c"), col("t210"),
        col("t300"))
    // trip (the classified triangle listing) and pairs are cached, so
    // evaluating census, triangles, and stats together runs the wedge
    // join ONCE; deg here is the undirected-projection distinct-neighbor
    // degree — exactly what triangleCounts computes on that projection
    val perVertex = s.keep(perVertexFromCounts(corner.select(col("id"), col("tri")), deg))
    ClusteringBundle(perVertex, clusteringStatsOf(perVertex), Some(census),
      interim = s.frames)
  }

  /** DIRECTED whole-graph VERTEX METRICS — the Gelly analytic (reference
    * flink-libraries/flink-gelly/.../library/metric/directed/
    * VertexMetrics.java): over the simple digraph, per vertex degree d =
    * DISTINCT neighbors, bi = out + in − d; single-row output exactly the
    * reference's Result — vertex count, edge count uni + 2·bi (DIRECTED
    * edges), uni/bi pair counts (the reference halves its doubly-counted
    * accumulators; the pair relation here counts each once), average
    * degree edges/V, density edges/(V(V−1)) (the DIRECTED potential-edge
    * denominator), triplet count ΣC(d,2), and the four maxima (degree,
    * out-degree, in-degree, triplets). One pair aggregate + three degree
    * aggregates + one global agg — no join beyond the keyed degree
    * joins, no iteration. The directed EdgeMetrics analytic is the
    * undirected [[edgeMetrics]] computation over this projection (it
    * reads only distinct-neighbor degrees), so it is covered by that
    * operator rather than duplicated. */
  def directedVertexMetrics(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val de = edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val pairs = de.select(least(col("src"), col("dst")).as("u"),
      greatest(col("src"), col("dst")).as("v")).distinct()
    degrees(pairs).join(inOutDegrees(de), Seq("id"), "left_outer")
      .select(col("deg"),
        coalesce(col("od"), lit(0L)).as("od"),
        coalesce(col("indeg"), lit(0L)).as("indeg"),
        (coalesce(col("od"), lit(0L)) + coalesce(col("indeg"), lit(0L)) - col("deg")).as("bi"))
      .agg(
        count(lit(1)).as("vc"),
        expr("sum(deg - bi) div 2").as("uec"),
        expr("sum(bi) div 2").as("bec"),
        expr("sum(deg * (deg - 1) div 2)").as("triplets"),
        max(col("deg")).as("max_degree"),
        max(col("od")).as("max_out_degree"),
        max(col("indeg")).as("max_in_degree"),
        expr("max(deg * (deg - 1) div 2)").as("max_triplets"))
      .select(
        col("vc").as("n_vertices"),
        (col("uec") + lit(2L) * col("bec")).as("n_edges"),
        col("uec").as("n_uni_edges"), col("bec").as("n_bi_edges"),
        ((col("uec") + lit(2L) * col("bec")).cast("double") /
          col("vc").cast("double")).as("avg_degree"),
        ((col("uec") + lit(2L) * col("bec")).cast("double") /
          (col("vc") * (col("vc") - 1)).cast("double")).as("density"),
        col("triplets").as("n_triplets"),
        col("max_degree"), col("max_out_degree"), col("max_in_degree"),
        col("max_triplets"))
  }

  /** Graph CHECKSUM — the Gelly ChecksumHashCode analytic (reference
    * flink-libraries/flink-gelly/.../library/metric/ChecksumHashCode.java
    * over flink-java Utils.ChecksumHashCode: element count + order-
    * independent sum of element hashes, vertex and edge checksums merged).
    * The reference sums Java hashCode() — a JVM-representation artifact —
    * so the hash is PINNED to an engine-neutral Knuth multiplicative mix
    * instead: h(x) = (x·2654435761) mod 2³², edge hash
    * (h(u) + 31·h(v)) mod 2³² (order-sensitive across the pair, as a
    * tuple hash is). Per-element arithmetic stays below 2⁶³ for any
    * 32-bit-range id (no wrap — DuckDB errors on BIGINT overflow rather
    * than wrapping, so wrap-dependent formulas are not cross-engine
    * expressible), and the Σ accumulates in exact wide decimal (Spark
    * DECIMAL(38,0) / DuckDB HUGEINT) folded mod 2³² at the end — no
    * overflow at ANY element count. Output (single row): (n_vertices,
    * n_edges, vertex_checksum, edge_checksum, checksum). */
  def checksum(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val K = 2654435761L
    val M = 4294967296L
    def h(c: Column): Column = (c * K) % M
    def fold(c: Column): Column = (c % M).cast("long")
    val e = edges.select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .distinct()
    val verts = e.select(explode(array(col("u"), col("v"))).as("id")).distinct()
    val vc = verts.agg(count(lit(1)).as("n_vertices"),
      fold(sum(h(col("id")).cast("decimal(38,0)"))).as("vertex_checksum"))
    val ec = e.agg(count(lit(1)).as("n_edges"),
      fold(sum(((h(col("u")) + lit(31L) * h(col("v"))) % M).cast("decimal(38,0)")))
        .as("edge_checksum"))
    vc.crossJoin(ec).select(
      col("n_vertices"), col("n_edges"),
      col("vertex_checksum"), col("edge_checksum"),
      (col("vertex_checksum") + col("edge_checksum")).as("checksum"))
  }
}
