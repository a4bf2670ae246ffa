package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Iterate, TextDedup}
import graft.plans.{GraftExtensions, TopNPerKey}

/** Degenerate inputs the operators must survive. */
class EdgeCaseSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  test("clusteringBundle on an empty / triangle-free graph: zero rows and " +
       "zero counts, no crashes") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val b = Iterate.clusteringBundle(empty, "src", "dst")
    assert(b.triangles.count() == 0)
    val stats = b.stats.collect()
    assert(stats.length == 1 && stats.head.getLong(0) == 0L) // n_vertices = 0
    b.unpersist()
    // a path graph: vertices and triplets but NO triangles
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val b2 = Iterate.directedClusteringBundle(path, "src", "dst")
    assert(b2.triangles.filter(col("n_triangles") > 0).count() == 0)
    assert(b2.census.get.head().getAs[Long]("t030t") == 0L)
    b2.unpersist()
  }

  test("KMeansModel with k = 1 assigns everything to cluster 0; " +
       "single-stage PipelineModel JSON survives empty stage params") {
    val df = Seq((1L, Seq(0.0, 1.0)), (2L, Seq(5.0, 5.0))).toDF("id", "v")
    val m = new graft.ml.KMeansModel("v", "c", Array(Array(1.0, 1.0)))
    assert(m.transform(df).select("c").as[Int].collect().toSeq == Seq(0, 0))
    val pm = new graft.ml.PipelineModel(Vector(m))
    val back = graft.ml.PipelineModel.loadJson(pm.toJson)
    assert(back.transform(df).select("c").as[Int].collect().toSeq == Seq(0, 0))
  }

  test("bipartite maxDegree cap of 1 keeps only degree-1 connectors") {
    val e = Seq((1L, 10L, "a"), (2L, 10L, "b"), (3L, 11L, "c"))
      .toDF("top", "bottom", "ev")
    // bottom 10 has degree 2 -> dropped at cap 1; bottom 11 degree 1 but
    // connects only one top -> no pairs at all
    assert(graft.operators.Bipartite
      .projectionTopSimple(e, "top", "bottom", "ev", maxDegree = 1L).count() == 0)
  }

  test("minhashCandidates on an empty corpus returns no pairs") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextDedup.minhashCandidates(empty, "doc_id", "text").count() == 0)
  }

  test("shingles of strings shorter than k still produce one shingle") {
    val r = Seq((1L, "ab")).toDF("doc_id", "text")
      .select(TextDedup.shingles(col("text"), 5).as("s")).as[Seq[String]].head()
    assert(r == Seq("ab"))
  }

  test("TopNPerKey with n larger than any group returns everything") {
    GraftExtensions.installInto(spark)
    val df = Seq((1L, 10), (1L, 20), (2L, 30)).toDF("k", "v")
    val out = TopNPerKey(df, 100, Seq(col("k")), Seq(col("v").desc))
    assert(out.count() == 3)
  }

  test("kmeans with k >= number of points still assigns every point") {
    val pts = Seq((0L, Array(0.0f, 0.0f)), (1L, Array(1.0f, 1.0f))).toDF("id", "v")
    val out = Iterate.kmeans(pts, "id", "v", k = 5, iters = 2)
    assert(out.count() == 2)
  }

  test("connectedComponents on an empty edge list is empty") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Iterate.connectedComponents(empty, "src", "dst").count() == 0)
  }

  test("simhash of empty-ish text is deterministic and in range") {
    val r = Seq((1L, ""), (2L, "x")).toDF("doc_id", "text")
      .select(TextDedup.simhash16(col("text")).as("h")).as[Int].collect()
    assert(r.forall(v => v >= 0 && v <= 0xffff))
  }

  test("histogramRank: single-row partitions get percent_rank 0, cume_dist 1") {
    val df = Seq(("a", 10), ("b", 5), ("b", 7)).toDF("p", "v")
    val r = graft.operators.Relational.histogramRank(df, col("p"), col("v"))
      .select("p", "v", "drk", "prk", "cd")
      .collect().map(x => (x.getString(0), x.getInt(1), x.getLong(2),
        x.getDouble(3), x.getDouble(4))).toSet
    assert(r == Set(("a", 10, 1L, 0.0, 1.0),
      ("b", 5, 1L, 0.0, 0.5), ("b", 7, 2L, 1.0, 1.0)))
  }

  test("pageRank on a 2-cycle holds the uniform fixpoint") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val r = Iterate.pageRank(edges, "src", "dst", iters = 3)
      .collect().map(x => (x.getLong(0), x.getDouble(1))).toMap
    assert(r == Map(1L -> 0.5, 2L -> 0.5), s"symmetric 2-cycle must stay uniform: $r")
  }

  test("pageRank with iters = 0 releases every frame it persisted") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val r = Iterate.pageRank(edges, "src", "dst", iters = 0)
    assert(r.collect().map(_.getDouble(1)).toSet == Set(0.333333333))
    // the result itself is a local checkpoint: release it like the caller would
    r.queryExecution.logical.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }
    val left = spark.sparkContext.getPersistentRDDs.filter(kv => !before(kv._1))
    assert(left.isEmpty, left.values.map(_.toDebugString).mkString("\n"))
    // ...and so does every operator: each runs twice in one session, its
    // result is consumed and the result's own checkpoint released; what
    // stays cached is exactly its entries on CacheScope's outliving-frame
    // list, once each (a repeated call reuses them). Every input has its
    // own ids so no two plans share a cache entry.
    def g(off: Long) = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 3L))
      .map { case (a, b) => (a + off, b + off) }.toDF("src", "dst")
    def gw(off: Long) = g(off).withColumn("w", lit(0.5))
    def pts(off: Long) = Seq((1L, Seq(0.0, 0.0)), (2L, Seq(0.5, 0.0)), (3L, Seq(5.0, 5.0)))
      .map { case (i, v) => (i + off, v) }.toDF("id", "v")
    def vv(off: Long) = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"), (5L, "c"))
      .map { case (i, v) => (i + off, v) }.toDF("id", "vv")
    def vc(off: Long) = Iterate.vertexCentric(gw(off), "src", "dst",
      g(off).select(explode(array($"src", $"dst")).as("id")).distinct()
        .select($"id", when($"id" === off + 1, 0.0).otherwise(lit(null).cast("double")).as("d")),
      "id", "d", message = _ => col("state") + col("w"), merge = min(col("msg")),
      update = _ => least(col("state"), col("msg")), maxSupersteps = 3)
    val docs = Seq((1L, "the quick brown fox jumps over"), (2L, "the quick brown fox jumped over"),
      (3L, "lorem ipsum dolor sit amet")).toDF("doc_id", "text")
    val odir = java.nio.file.Files.createTempDirectory("graft_a04").toString
    Seq((1L, 7L, "2024-01-03", 10.5), (2L, 7L, "2024-02-01", 3.25), (3L, 8L, "2024-01-20", 7.0))
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      .withColumn("o_orderdate", to_date(col("o_orderdate")))
      .write.parquet(s"$odir/orders.parquet")
    val ops: Seq[(String, Seq[String], () => org.apache.spark.sql.DataFrame)] = Seq(
      ("kmeansCentroids", Nil, () => Iterate.kmeansCentroids(pts(100), "id", "v", 2, 2)),
      ("kmeans", Nil, () => Iterate.kmeans(pts(200), "id", "v", 2, 2)),
      ("connectedComponents (local)", Nil, () => Iterate.connectedComponents(g(300), "src", "dst")),
      ("connectedComponents", Nil,
        () => Iterate.connectedComponents(g(400), "src", "dst", localThreshold = 0L)),
      ("pageRank", Nil, () => Iterate.pageRank(g(500), "src", "dst", iters = 2)),
      ("labelPropagation", Nil, () => Iterate.labelPropagation(g(600), "src", "dst", 2)),
      ("jaccardIndex", Seq("jaccardIndex.incidence", "jaccardIndex.degrees"),
        () => Iterate.jaccardIndex(g(700), "src", "dst")),
      ("adamicAdar", Seq("adamicAdar.incidence"), () => Iterate.adamicAdar(g(800), "src", "dst")),
      ("hits", Nil, () => Iterate.hits(g(900), "src", "dst", 2)),
      ("sssp", Nil, () => Iterate.sssp(gw(1000), "src", "dst", "w", 1001L, 2)),
      ("ssspWorkset", Nil, () => Iterate.ssspWorkset(gw(1100), "src", "dst", "w", 1101L, 2)),
      ("vertexCentric", Nil, () => vc(1200)),
      ("triangleCounts", Seq("triangleCounts.edges", "triangleCounts.degrees",
        "triangleCounts.oriented", "triangleCounts.adjacency"),
        () => Iterate.triangleCounts(g(1300), "src", "dst")),
      ("summarization", Nil, () => Iterate.summarization(vv(1400),
        "id", "vv", gw(1400), "src", "dst", "w")),
      ("summarizationVertices", Nil, () => Iterate.summarizationVertices(vv(1500), "id", "vv")),
      ("communityDetection", Nil, () => Iterate.communityDetection(g(1600), "src", "dst", 2)),
      ("vertexMetrics", Nil, () => Iterate.vertexMetrics(g(1700), "src", "dst")),
      ("edgeMetrics", Seq("edgeMetrics.edges", "edgeMetrics.degrees"),
        () => Iterate.edgeMetrics(g(1800), "src", "dst")),
      ("clusteringStats", Seq("triangleCounts.edges", "triangleCounts.degrees",
        "triangleCounts.oriented", "triangleCounts.adjacency"),
        () => Iterate.clusteringStats(g(1900), "src", "dst")),
      ("clusteringStatsOf", Nil, () => Iterate.clusteringStatsOf(
        Seq((2001L, 2L, 1L, 1.0)).toDF("id", "degree", "n_triangles", "lcc"))),
      ("directedClusteringStats", Nil,
        () => Iterate.directedClusteringStats(g(2100), "src", "dst")),
      ("directedVertexMetrics", Nil, () => Iterate.directedVertexMetrics(g(2200), "src", "dst")),
      ("checksum", Nil, () => Iterate.checksum(g(2300), "src", "dst")),
      ("minhashCandidates", Nil, () => TextDedup.minhashCandidates(docs, "doc_id", "text")),
      ("zipWithIndex", Seq("zipWithIndex.parted"),
        () => graft.operators.Relational.zipWithIndex(g(2500), Seq(col("src"), col("dst")))),
      ("a04 (query-level)", Seq("a04.rfm"),
        () => graft.SparkEntry.queries("a04_rfm_scalable")(spark, odir)))
    ops.foreach { case (op, outliving, run) =>
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      (1 to 2).foreach { _ =>
        val r = run()
        r.collect()
        r.queryExecution.logical.foreach {
          case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
          case _ => ()
        }
      }
      val left = spark.sparkContext.getPersistentRDDs.filter(kv => !before(kv._1))
      assert(left.values.map(_.name).toSeq.sorted ==
        outliving.map(n => s"In-memory table $n").sorted,
        s"$op left cached:\n" + left.values.map(_.toDebugString).mkString("\n"))
      val stored = spark.sparkContext.getRDDStorageInfo.map(_.id).filterNot(before)
      assert(stored.forall(left.contains), s"$op left blocks of RDDs ${stored.mkString(",")}")
    }
    assert(ops.flatMap(_._2).toSet == graft.operators.CacheScope.Outliving)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(odir))
  }

  test("vertexMetrics on an empty or self-loop-only graph reports 0 edges") {
    Seq(Seq.empty[(Long, Long)], Seq((1L, 1L), (2L, 2L))).foreach { es =>
      val m = Iterate.vertexMetrics(es.toDF("src", "dst"), "src", "dst").head()
      assert(m.get(m.fieldIndex("n_edges")) == 0L, s"$es: $m") // NULL fails
    }
  }

  test("ssspWorkset == sssp round-for-round, with early exit on an empty frontier") {
    val edges = Seq((1L, 2L, 1.0), (2L, 3L, 0.5), (3L, 2L, 0.25), (4L, 5L, 2.0))
      .toDF("src", "dst", "w")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => (x.getLong(0), Option(x.get(1)))).toMap
    for (iters <- 1 to 4)
      assert(asMap(Iterate.ssspWorkset(edges, "src", "dst", "w", 1L, iters)) ==
        asMap(Iterate.sssp(edges, "src", "dst", "w", 1L, iters)),
        s"divergence at $iters rounds")
    // iters far beyond convergence: frontier empties, result is the fixpoint
    assert(asMap(Iterate.ssspWorkset(edges, "src", "dst", "w", 1L, 50)) ==
      asMap(Iterate.sssp(edges, "src", "dst", "w", 1L, 4)))
  }

  test("sssp: unreachable vertices stay NULL, reachable get min-plus distances") {
    // 1 -> 2 (w 1.0) -> 3 (w 0.5); 4 -> 5 disconnected from the source
    val edges = Seq((1L, 2L, 1.0), (2L, 3L, 0.5), (4L, 5L, 2.0)).toDF("src", "dst", "w")
    val r = Iterate.sssp(edges, "src", "dst", "w", sourceId = 1L, iters = 3)
      .collect().map(x => (x.getLong(0), Option(x.get(1)).map(_.asInstanceOf[Double]))).toMap
    assert(r == Map(1L -> Some(0.0), 2L -> Some(1.0), 3L -> Some(1.5),
      4L -> None, 5L -> None))
  }

  test("Pattern.detect on an empty event log returns no matches (all step shapes)") {
    val empty = Seq.empty[(Long, java.sql.Timestamp, String, Double)]
      .toDF("user_id", "ts", "event_type", "value")
    import graft.cep.Pattern
    val base = Pattern.begin("a", col("event_type") === "a").bind("value")
    assert(base.followedBy("b", col("event_type") === "b")
      .within(1000L).detect(empty, col("user_id"), col("ts")).count() == 0)
    assert(base.followedByIterative("b", col("event_type") === "b",
        Pattern.ev("value") > Pattern.bound("a", "value"))
      .within(1000L).detect(empty, col("user_id"), col("ts")).count() == 0)
    assert(base.followedByOneOf("x", "b" -> (col("event_type") === "b"),
        "c" -> (col("event_type") === "c"))
      .within(1000L).detect(empty, col("user_id"), col("ts")).count() == 0)
    // the group walk at depth 0 ((B C)+, (B C)*) and depth 1 (((B C)+ D)+)
    val bc = Seq("b" -> (col("event_type") === "b"), "c" -> (col("event_type") === "c"))
    assert(base.followedByGroup("g", bc: _*).bindGroup("b", "value").oneOrMore()
      .within(1000L).detect(empty, col("user_id"), col("ts")).count() == 0)
    assert(base.followedByGroup("g", bc: _*).zeroOrMore()
      .within(1000L).detect(empty, col("user_id"), col("ts")).count() == 0)
    assert(base.followedByNestedGroup("g", bc, Seq("d" -> (col("event_type") === "d")))
      .oneOrMore()
      .within(1000L).detect(empty, col("user_id"), col("ts")).count() == 0)
    // the run walk: followedByRun at offsets 1 and 2, and consecutive(), on
    // the empty log and on a key holding one event — no rows, full schema
    val one = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "a", 1.0))
      .toDF("user_id", "ts", "event_type", "value")
    val runCols = Seq("key", "a_ts", "a_value", "b_first_ts", "b_last_ts", "b_n",
      "b_sum_value", "b_min_value", "b_max_value", "b_first_value", "b_last_value")
    for (log <- Seq(empty, one)) {
      for (offset <- Seq(1, 2)) {
        val m = base.followedByRun("b", col("event_type") === "b", "value", _ < _, offset)
          .bindRun("value").within(1000L).detect(log, col("user_id"), col("ts"))
        assert(m.columns.toSeq == runCols && m.count() == 0, s"offset $offset")
      }
      val c = base.followedBy("b", col("event_type") === "b").oneOrMore().consecutive()
        .within(1000L).detect(log, col("user_id"), col("ts"))
      assert(c.columns.toSeq == runCols.take(6) && c.count() == 0, "consecutive")
    }
  }

  test("evictors keep everything when the window holds fewer elements than the bound") {
    import graft.operators.EventWindows
    val one = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), "a", 1L, 2.0))
      .toDF("ts", "event_type", "event_id", "value")
    val t = EventWindows.timeEvictedTumbleAgg(one, col("ts"), "1 hour", "15 minutes",
      Seq(col("event_type")), Seq(count(lit(1)).as("n"))).collect()
    assert(t.length == 1 && t.head.getAs[Long]("n") == 1L)
    val c = EventWindows.countEvictedTumbleAgg(one, col("ts"), "1 hour", 5, col("event_id"),
      Seq(col("event_type")), Seq(count(lit(1)).as("n"))).collect()
    assert(c.length == 1 && c.head.getAs[Long]("n") == 1L)
  }

  test("stratified hash sampling is row-local: the sample survives repartitioning") {
    val dir = "/root/testdata/sf0.001"
    val a = graft.SparkEntry.queries("d09_stratified_sample")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    // the same query over a differently-partitioned scan must pick the
    // exact same documents (no partition-index or RNG dependence)
    val docs = graft.sources.Tables.load(spark, dir, "documents").repartition(7)
    val b = docs.withColumn("bucket", substring(md5(col("text")), 32, 1))
      .filter((col("lang") === "en" && col("bucket").isin("0123456789abc".map(_.toString): _*)) ||
        (col("lang") =!= "en" && col("bucket").isin("0123".map(_.toString): _*)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b && a.nonEmpty)
  }

  test("AudioHeaderDecoder rejects non-WAV bytes with named errors") {
    import graft.multimodal.AudioHeaderDecoder
    def err(b: Array[Byte]): String =
      intercept[IllegalArgumentException](AudioHeaderDecoder.audioMeta(b)).getMessage
    assert(err(Array.fill[Byte](10)(0)).contains("RIFF"))
    val riffNoFmt = ("RIFF" + "\u0000" * 4 + "WAVE" + "\u0000" * 40).getBytes("ISO-8859-1")
    assert(err(riffNoFmt).contains("fmt"))
  }

  test("t07 repetition filter survives documents shorter than the gram size") {
    // sequence(1, stop) with stop < 1 is DESCENDING in Spark ([1, 0]), so an
    // unguarded gram-position list would evaluate element_at(toks, 0) and
    // throw on any doc with < n words. Oracle semantics: such docs have no
    // grams and fall out of the inner join entirely.
    val dir = java.nio.file.Files.createTempDirectory("graft_t07").toString
    Seq((1L, "one"), (2L, "two words"), (3L, "three word doc"),
      (4L, "a a a a a a"), (5L, ""))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val out = graft.SparkEntry.queries("t07_repetition_filter")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // docs 1, 2, 5 have no 3-grams -> absent; 3 and 4 present
    assert(out.keySet == Set(3L, 4L))
    assert(out(4L) == 1.0) // "a a" is every 2-gram position
  }

  test("MatchRecognize rejects malformed clauses with named errors") {
    val ev = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "a"))
      .toDF("user_id", "ts", "event_type")
    def err(sql: String): String =
      intercept[RuntimeException](graft.cep.MatchRecognize.detect(ev, sql)).getMessage
    assert(err("SELECT 1").contains("MATCH_RECOGNIZE"))
    assert(err("MATCH_RECOGNIZE (ORDER BY ts PATTERN (A) WITHIN INTERVAL '1' HOUR)")
      .contains("PARTITION BY"))
    assert(err("MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY ts PATTERN (A))")
      .contains("WITHIN"))
    // any number of tiebreak COLUMNS is supported (r10); non-column ORDER
    // BY expressions stay named errors
    assert(err("MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY ts, a+b " +
      "PATTERN (A) WITHIN INTERVAL '1' HOUR)")
      .contains("tiebreak columns"))
    // the tiebreak steers plain bindings, run/group value reads (r10) and
    // — since r18 — plain-alternation branch choice; QUANTIFIED
    // alternations (per-branch counts) and self-runs (segmentation by
    // (ts, value)) stay named errors, never a silently different match
    assert(err("MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY ts, event_id " +
      "MEASURES FIRST(A.ts) AS f PATTERN (B (A|C)+) WITHIN INTERVAL '1' HOUR " +
      "DEFINE B AS event_type = 'b', A AS event_type = 'a', C AS event_type = 'c')")
      .contains("quantified alternation"))
  }
}
