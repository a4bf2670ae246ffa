package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Relational, Similarity, TextDedup, TextOps}
import graft.sources.Tables

/** §2.3–§2.5 LLM-data-pipeline operators over `documents` / `embeddings`.
  *
  * Oracle strategy: hash logic is built on md5-hex-string comparisons and the
  * SQL is generated from the same Scala constants (band layout, bit tables,
  * projection planes), so Spark and DuckDB stay in lockstep by construction.
  * Single divisions / products of identical inputs are left unrounded
  * (bitwise identical); only multi-term float sums (cosines) are rounded.
  */
object LlmQueries {
  type Q = (SparkSession, String) => DataFrame
  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")
  private def emb(s: SparkSession, dir: String) = Tables.load(s, dir, "embeddings")

  // ---------- shared SQL fragments (DuckDB) ----------
  private[queries] def shingleSql(col: String, k: Int): String =
    s"[substr($col, CAST(i AS INT), $k) for i in generate_series(1, greatest(length($col)-${k - 1}, 1))]"
  private[queries] def minhashSql(i: Int): String =
    s"list_min([substr(md5(s || ':${i / 4}'), ${1 + 8 * (i % 4)}, 8) for s in shingles])"
  private[queries] val Bands = 2
  private[queries] val RowsPerBand = 4
  /** Hot-bucket drop threshold — MUST stay equal to
    * [[TextDedup.minhashCandidates]]'s `maxBucketSize` default so the oracle
    * and the operator cap identically (at sf0.01 the largest bucket is 5, so
    * the cap provably changes nothing on the test corpus; the degenerate-
    * corpus spec exercises the capping path). */
  private[queries] val MaxBucket = 100
  private[queries] val bandsCte: String = {
    val sigCols = (0 until Bands * RowsPerBand).map(i => s"${minhashSql(i)} AS h$i").mkString(", ")
    val bandSelects = (0 until Bands).map { b =>
      val key = (0 until RowsPerBand).map(j => s"h${b * RowsPerBand + j}").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, $key AS bkey FROM sig"
    }.mkString(" UNION ALL ")
    s"""sh AS (SELECT doc_id, ${shingleSql("text", 5)} AS shingles FROM documents),
       |sig AS (SELECT doc_id, $sigCols FROM sh),
       |bands0 AS ($bandSelects),
       |bands AS (SELECT b.* FROM bands0 b JOIN (SELECT band, bkey FROM bands0
       |          GROUP BY band, bkey HAVING count(*) <= $MaxBucket) s USING (band, bkey)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band=b.band AND a.bkey=b.bkey AND a.doc_id < b.doc_id)""".stripMargin
  }
  private val embCte =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |      sqrt(list_sum([x*x for x in CAST(embedding AS DOUBLE[])])) AS nrm
      |      FROM embeddings)""".stripMargin
  private def cosSql(a: String, b: String, an: String, bn: String): String =
    s"round(list_sum([$a[j]*$b[j] for j in generate_series(1, len($a))])/($an*$bn), 6)"

  // ---------- d01: exact dedup via content hash ----------
  private val d01: Q = (s, dir) =>
    docs(s, dir).groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
  private val d01Sql =
    """SELECT md5(text) AS content_hash, CAST(min(doc_id) AS BIGINT) AS keep_id,
      | count(*) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin

  // ---------- d02: MinHash-LSH candidate pairs ----------
  private val d02: Q = (s, dir) =>
    TextDedup.minhashCandidates(docs(s, dir), "doc_id", "text", 5, Bands, RowsPerBand)
  private val d02Sql = s"WITH $bandsCte SELECT doc_a, doc_b FROM cand"

  // ---------- d03: 64-bit SimHash fingerprint ----------
  // Production width (the Google near-dup paper size): 64 bits ⇒ 2^64
  // fingerprint space, and the d06 band join gets 65,536 buckets per band
  // instead of 16 — at corpus scale a 16-bit fingerprint collides massively
  // and its 4-bit bands degenerate to an all-pairs join. Spark side hashes
  // each token ONCE, then runs 16 packed-counter passes (4 bit-votes per
  // pass — see TextDedup.simhash64PackedVotes); bit set iff a strict
  // majority of tokens sets it.
  private val d03: Q = (s, dir) =>
    docs(s, dir)
      .select(col("doc_id"), transform(split(col("text"), " "), t => md5(t)).as("md5s"))
      .select(col("doc_id") +: size(col("md5s")).as("n") +:
        (0 until 16).map(c => TextDedup.simhash64PackedVotes(col("md5s"), c).as(s"vc$c")): _*)
      .select(col("doc_id"),
        TextDedup.simhash64FromVotes((0 until 16).map(c => col(s"vc$c")), col("n"))
          .as("simhash"))
  private val d03Sql = {
    val ks = (0 until 64).map { j =>
      val cpos = 1 + j / 4
      val chars = TextDedup.hexCharsWithBit(j % 4).map(c => s"'$c'").mkString(", ")
      s"len(list_filter(md5s, h -> substr(h, $cpos, 1) IN ($chars))) AS k$j"
    }.mkString(", ")
    // bit 63 is Long.MinValue — emit it as (-MAX-1), and OR (not +) the bits
    def bitLit(j: Int) = if (j == 63) "(-9223372036854775807 - 1)" else s"${1L << j}"
    val bits = (0 until 64)
      .map(j => s"CASE WHEN 2*k$j > n THEN ${bitLit(j)}::BIGINT ELSE 0::BIGINT END")
      .mkString(" | ")
    s"""WITH m AS (SELECT doc_id, [md5(t) for t in string_split(text, ' ')] AS md5s,
       |  len(string_split(text, ' ')) AS n FROM documents),
       |v AS (SELECT doc_id, n, $ks FROM m)
       |SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM v""".stripMargin
  }

  // ---------- d04: exact 3-gram Jaccard on LSH candidates ----------
  private val d04: Q = (s, dir) => {
    val cand = TextDedup.minhashCandidates(docs(s, dir), "doc_id", "text", 5, Bands, RowsPerBand)
    // distinct 3-gram sets are computed ONCE PER DOC; computing them after
    // the pair join would redo the work once per candidate pair
    val grams = docs(s, dir)
      .select(col("doc_id"), array_distinct(TextDedup.shingles(col("text"), 3)).as("g"))
    val ga = grams.select(col("doc_id").as("doc_a"), col("g").as("ga"))
    val gb = grams.select(col("doc_id").as("doc_b"), col("g").as("gb"))
    cand.join(ga, "doc_a").join(gb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        TextDedup.jaccardOfDistinct(col("ga"), col("gb")).as("jaccard"))
  }
  private val d04Sql =
    s"""WITH $bandsCte,
       |g AS (SELECT c.doc_a, c.doc_b,
       |       list_distinct(${shingleSql("da.text", 3)}) AS ga,
       |       list_distinct(${shingleSql("db.text", 3)}) AS gb
       |      FROM cand c JOIN documents da ON da.doc_id = c.doc_a
       |                  JOIN documents db ON db.doc_id = c.doc_b)
       |SELECT doc_a, doc_b,
       | len(list_intersect(ga, gb)) * 1.0 / len(list_distinct(ga || gb)) AS jaccard
       |FROM g""".stripMargin

  // ---------- d06: SimHash near-dup pairs (4×16-bit bands + Hamming <= 3) ----------
  // Pigeonhole: any pair within Hamming 3 of a 64-bit fingerprint agrees
  // exactly on at least one of the 4 16-bit bands, so the equi-join on
  // (band, 16-bit value) finds every such pair with 65,536 buckets per band —
  // O(candidates) shuffle. Emission is distinct-free: a pair leaves the join
  // only from its FIRST matching band (see TextDedup.bandedFingerprintPairs).
  private val d06: Q = (s, dir) =>
    TextDedup.bandedFingerprintPairs(d03(s, dir), "doc_id", "simhash",
        nBands = 4, bitsPerBand = 16)
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("int").as("hamming"))
      .filter(col("hamming") <= 3)
  private val d06Sql = {
    val inner = d03Sql.replace("\n", "\n ")
    def nib(t: String, jp: Int) = s"(($t.simhash >> ${16 * jp}) & 65535)"
    val firstMatch = (0 until 4)
      .map(jp => s"(a.j <= $jp OR ${nib("a", jp)} != ${nib("b", jp)})").mkString(" AND ")
    s"""WITH sim AS ($inner),
       |bands AS (SELECT doc_id, simhash, j, ((simhash >> (16*j)) & 65535) AS nib
       |          FROM sim CROSS JOIN (VALUES (0),(1),(2),(3)) t(j)),
       |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |          FROM bands a JOIN bands b
       |            ON a.j = b.j AND a.nib = b.nib AND a.doc_id < b.doc_id
       |          WHERE $firstMatch)
       |SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3""".stripMargin
  }

  // ---------- d05: embedding near-dup pairs (banded SRP LSH + cosine >= 0.4) ----------
  // Scale design (mirrors the d02→d04 MinHash→Jaccard staging): candidate
  // pairs come from 4 bands of 4 sign-random-projection planes — two vectors
  // are candidates iff some band's 4 plane signs all agree — an EQUI-join on
  // (band, bucket) whose shuffle is O(candidates); the exact cosine is then
  // scored on candidates only. Never an all-pairs nested loop: at 1 B
  // embeddings the previous inequality-only self-join is 10^18 dot products,
  // this is (corpus/16-bucket) band joins. For near-dups (cosine ≥ 0.95 ⇒
  // per-plane agreement ≈ 0.9) a band matches with p ≈ 0.66 and 4 bands give
  // ≈ 99% recall; distant pairs mostly never collide. The bucketed candidate
  // set IS the operator contract — the oracle replays identical banding.
  private val D05Bands = 4
  private val D05PlanesPerBand = 4
  private val d05Planes = Similarity.planes(D05Bands * D05PlanesPerBand, 64)
  private val d05: Q = (s, dir) => {
    val e = Similarity.prep(emb(s, dir), "vec_id", "embedding")
    val bucketed = e.select(col("id") +: (0 until D05Bands).map { j =>
        Similarity.srpBucket(col("v"),
          d05Planes.slice(j * D05PlanesPerBand, (j + 1) * D05PlanesPerBand)).as(s"bb$j")
      }: _*)
    val bands = bucketed.select(col("id") +:
      (0 until D05Bands).map(j => col(s"bb$j")) :+
      explode(array((0 until D05Bands).map(j =>
        struct(lit(j).as("j"), col(s"bb$j").as("nib"))): _*)).as("bk"): _*)
      .select(col("id") +: (0 until D05Bands).map(j => col(s"bb$j")) :+
        col("bk.j").as("j") :+ col("bk.nib").as("nib"): _*)
    val a = bands.select(col("id").as("vec_a") +:
      (0 until D05Bands).map(j => col(s"bb$j").as(s"ab$j")) :+ col("j") :+ col("nib"): _*)
    val b = bands.select(col("id").as("vec_b") +:
      (0 until D05Bands).map(j => col(s"bb$j").as(s"xb$j")) :+
      col("j").as("j2") :+ col("nib").as("nib2"): _*)
    // distinct-free emission: only the FIRST matching band emits the pair
    val firstMatch = (0 until D05Bands).map { jp =>
      when(col("j") > jp, col(s"ab$jp") =!= col(s"xb$jp")).otherwise(lit(true))
    }.reduce(_ && _)
    val cand = a.join(b, col("j") === col("j2") && col("nib") === col("nib2") &&
        col("vec_a") < col("vec_b"))
      .filter(firstMatch).select("vec_a", "vec_b")
    val ea = e.select(col("id").as("qa"), col("v").as("va"), col("nrm").as("na"))
    val eb = e.select(col("id").as("qb"), col("v").as("vb"), col("nrm").as("nb"))
    cand.join(ea, col("qa") === col("vec_a")).join(eb, col("qb") === col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("cosine"))
      .filter(col("cosine") >= 0.4)
  }
  private val d05Sql = {
    val bbs = (0 until D05Bands).map { j =>
      val planes = Similarity.planeLiterals(
        d05Planes.slice(j * D05PlanesPerBand, (j + 1) * D05PlanesPerBand))
      val bucket = planes.zipWithIndex.map { case (p, i) =>
        s"CASE WHEN list_sum([v[k]*($p)[k] for k in generate_series(1, len(v))]) >= 0 THEN ${1 << i} ELSE 0 END"
      }.mkString(" + ")
      s"CAST($bucket AS INT) AS bb$j"
    }.mkString(", ")
    val bandSel = (0 until D05Bands)
      .map(j => s"SELECT vec_id, bb0, bb1, bb2, bb3, $j AS j, bb$j AS nib FROM eb")
      .mkString(" UNION ALL ")
    val firstMatch = (0 until D05Bands)
      .map(jp => s"(a.j <= $jp OR a.bb$jp != b.bb$jp)").mkString(" AND ")
    s"""WITH $embCte,
       |eb AS (SELECT vec_id, v, nrm, $bbs FROM e),
       |bands AS ($bandSel),
       |cand AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
       |         FROM bands a JOIN bands b
       |           ON a.j = b.j AND a.nib = b.nib AND a.vec_id < b.vec_id
       |         WHERE $firstMatch),
       |p AS (SELECT vec_a, vec_b, ${cosSql("qa.v", "qb.v", "qa.nrm", "qb.nrm")} AS cosine
       |      FROM cand JOIN e qa ON qa.vec_id = vec_a JOIN e qb ON qb.vec_id = vec_b)
       |SELECT vec_a, vec_b, cosine FROM p WHERE cosine >= 0.4""".stripMargin
  }

  // ---------- s01: brute-force cosine top-k (k=5, queries vec_id<10) ----------
  private val s01: Q = (s, dir) =>
    Similarity.annTopK(emb(s, dir), "vec_id", "embedding", col("id") < 10, 5)
  private val s01Sql =
    s"""WITH $embCte,
       |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |       ${cosSql("q.v", "c.v", "q.nrm", "c.nrm")} AS cosine
       |      FROM e q JOIN e c ON c.vec_id != q.vec_id WHERE q.vec_id < 10)
       |SELECT query_id, neighbor_id, cosine, CAST(rn AS INT) AS rn FROM (
       | SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
       | FROM p) WHERE rn <= 5""".stripMargin

  // ---------- s02: LSH-bucketed ANN (multi-table sign random projections) ----------
  // L independent 4-plane tables (signature concatenation): a neighbor is a
  // candidate if it shares a bucket — or a Hamming-1 probe bucket — with the
  // query in ANY table. Per-table recall r compounds to 1-(1-r)^L, the
  // standard LSH recall lever that keeps the per-table join an equi-join on
  // (table, bucket) with O(candidates) shuffle. Candidates are deduplicated
  // across tables before scoring, so each cosine is computed once.
  private val SrpTables = 3
  private val srpPlanes = Similarity.planes(SrpTables * 4, 64)
  private def srpTablePlanes(t: Int) = srpPlanes.slice(t * 4, (t + 1) * 4)
  private val SrpProbes = Seq(0, 1, 2, 4, 8) // own bucket + 4 Hamming-1 flips
  private val s02: Q = (s, dir) => {
    val e = Similarity.prep(emb(s, dir), "vec_id", "embedding")
    val eb = e.select(col("id") +: (0 until SrpTables).map(t =>
        Similarity.srpBucket(col("v"), srpTablePlanes(t)).as(s"bkt$t")): _*)
    val cands = eb.select(col("id"),
      explode(array((0 until SrpTables).map(t =>
        struct(lit(t).as("t"), col(s"bkt$t").as("bucket"))): _*)).as("tb"))
      .select(col("id"), col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    val probes = eb.filter(col("id") < 10).select(col("id").as("query_id"),
        explode(array((for { t <- 0 until SrpTables; m <- SrpProbes } yield
          struct(lit(t).as("t"), col(s"bkt$t").bitwiseXOR(lit(m)).as("pb"))): _*)).as("tp"))
      .select(col("query_id"), col("tp.t").as("t2"), col("tp.pb").as("pb"))
    val cand = probes.join(cands,
        col("t") === col("t2") && col("bucket") === col("pb") &&
          col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id")).distinct()
    val eq = e.select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val en = e.select(col("id").as("nid"), col("v").as("nv"), col("nrm").as("nn"))
    val pairs = cand.join(eq, col("qid") === col("query_id"))
      .join(en, col("nid") === col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(Similarity.dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 6).as("cosine"))
    Relational.topNPerGroup(pairs, Seq(col("query_id")),
      Seq(col("cosine").desc, col("neighbor_id")), 5)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rn"))
  }
  private val s02Sql = {
    val bkts = (0 until SrpTables).map { t =>
      val bucket = Similarity.planeLiterals(srpTablePlanes(t)).zipWithIndex.map { case (p, i) =>
        s"CASE WHEN list_sum([v[j]*($p)[j] for j in generate_series(1, len(v))]) >= 0 THEN ${1 << i} ELSE 0 END"
      }.mkString(" + ")
      s"CAST($bucket AS INT) AS bkt$t"
    }.mkString(", ")
    val candSel = (0 until SrpTables)
      .map(t => s"SELECT vec_id, $t AS t, bkt$t AS bucket FROM eb").mkString(" UNION ALL ")
    val probeSel = (for { t <- 0 until SrpTables; m <- SrpProbes } yield
      s"SELECT vec_id, $t AS t, CAST(xor(bkt$t, $m) AS INT) AS pb FROM eb WHERE vec_id < 10")
      .mkString(" UNION ALL ")
    s"""WITH $embCte,
       |eb AS (SELECT vec_id, v, nrm, $bkts FROM e),
       |cands AS ($candSel),
       |probes AS ($probeSel),
       |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |         FROM probes q JOIN cands c ON c.t = q.t AND c.bucket = q.pb
       |           AND c.vec_id != q.vec_id),
       |p AS (SELECT query_id, neighbor_id,
       |       ${cosSql("qe.v", "ne.v", "qe.nrm", "ne.nrm")} AS cosine
       |      FROM cand JOIN e qe ON qe.vec_id = query_id
       |                JOIN e ne ON ne.vec_id = neighbor_id)
       |SELECT query_id, neighbor_id, cosine, CAST(rn AS INT) AS rn FROM (
       | SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
       | FROM p) WHERE rn <= 5""".stripMargin
  }

  // ---------- s03: IVF-style ANN (8 k-means cells, probe 3) ----------
  // Cell centroids come from Iterate.kmeans (one Lloyd mean-update over the
  // full corpus) instead of "first 8 vectors": balanced cells are what makes
  // probe-3-of-8 hold its recall at scale. The oracle replays the Lloyd step
  // in SQL exactly as i01 does.
  private val s03: Q = (s, dir) => {
    val e = Similarity.prep(emb(s, dir), "vec_id", "embedding")
    val cent = graft.operators.Iterate
      .kmeansCentroids(emb(s, dir), "vec_id", "embedding", k = 8, iters = 1)
      .select(col("cid"), col("cv"), Similarity.norm(col("cv")).as("cn"))
    val scored = e.crossJoin(broadcast(cent))
      .select(col("id"), col("v"), col("nrm"), col("cid"),
        round(Similarity.dot(col("v"), col("cv")) / (col("nrm") * col("cn")), 6).as("ccos"))
    val cells = Relational.topNPerGroup(scored, Seq(col("id")),
      Seq(col("ccos").desc, col("cid")), 1).select(col("id").as("nid"), col("cid").as("cell"))
    val probes = Relational.topNPerGroup(scored.filter(col("id") < 10), Seq(col("id")),
      Seq(col("ccos").desc, col("cid")), 3)
      .select(col("id").as("query_id"), col("cid").as("pcell"))
    val cand = probes.join(cells, col("cell") === col("pcell") && col("nid") =!= col("query_id"))
      .select("query_id", "nid")
    val eq = e.select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val en = e.select(col("id").as("cid2"), col("v").as("nv"), col("nrm").as("nn"))
    val pairs = cand.join(eq, col("qid") === col("query_id"))
      .join(en, col("cid2") === col("nid"))
      .select(col("query_id"), col("nid").as("neighbor_id"),
        round(Similarity.dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 6).as("cosine"))
    Relational.topNPerGroup(pairs, Seq(col("query_id")),
      Seq(col("cosine").desc, col("neighbor_id")), 5)
      .select("query_id", "neighbor_id", "cosine", "rn")
  }
  private val s03Sql =
    s"""WITH $embCte,
       |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v AS cv
       |       FROM e ORDER BY vec_id LIMIT 8),
       |a1 AS (SELECT vec_id, cid FROM (
       |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY list_sum([x*x for x in e.v]) - 2.0*list_sum([e.v[j]*c.cv[j]
       |      for j in generate_series(1, len(e.v))]) + list_sum([x*x for x in c.cv]), c.cid) AS rn
       |  FROM e CROSS JOIN c0 c) WHERE rn = 1),
       |c1 AS (SELECT cid, list(mx ORDER BY j) AS cv FROM (
       |        SELECT a.cid, j, round(avg(e.v[j]), 6) AS mx
       |        FROM a1 a JOIN e USING (vec_id)
       |        CROSS JOIN (SELECT unnest(generate_series(1,
       |          (SELECT len(v) FROM e LIMIT 1))) AS j) js
       |        GROUP BY a.cid, j) GROUP BY cid),
       |cent AS (SELECT cid, cv, sqrt(list_sum([x*x for x in cv])) AS cn FROM c1),
       |scored AS (SELECT e.vec_id AS id, cid,
       |            ${cosSql("e.v", "cv", "e.nrm", "cn")} AS ccos
       |           FROM e, cent),
       |cells AS (SELECT id AS nid, cid AS cell FROM (
       |           SELECT *, row_number() OVER (PARTITION BY id ORDER BY ccos DESC, cid) AS rn
       |           FROM scored) WHERE rn = 1),
       |probes AS (SELECT id AS query_id, cid AS pcell FROM (
       |            SELECT *, row_number() OVER (PARTITION BY id ORDER BY ccos DESC, cid) AS rn
       |            FROM scored WHERE id < 10) WHERE rn <= 3),
       |cand AS (SELECT p.query_id, c.nid FROM probes p JOIN cells c
       |          ON c.cell = p.pcell AND c.nid != p.query_id),
       |p2 AS (SELECT query_id, nid AS neighbor_id,
       |        ${cosSql("q.v", "n.v", "q.nrm", "n.nrm")} AS cosine
       |       FROM cand JOIN e q ON q.vec_id = query_id JOIN e n ON n.vec_id = nid)
       |SELECT query_id, neighbor_id, cosine, CAST(rn AS INT) AS rn FROM (
       | SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
       | FROM p2) WHERE rn <= 5""".stripMargin

  // ---------- s05: k-NN GRAPH over the whole corpus (IVF-bucketed) ----------
  // The semantic-dedup / clustering primitive (SemDeDup-style pipelines
  // build a k-NN graph, then drop near-duplicate neighbors): EVERY vector
  // is a query — top-3 cosine neighbors via the s03 IVF cells, each node
  // probing its 3 nearest cells (the s03 probe depth). Scale shape: candidates are generated by
  // an equi-join on the cell id, so the pair count is Σ|cell|·|probes into
  // it| — bucketed all-pairs, never the global N² cross join (plan-asserted
  // cartesian-free); centroids are metadata-sized and broadcast. Scale
  // knob: with FIXED k the per-cell population grows linearly in N and the
  // bucketed pair count quadratically — production sizing is k ∝ √N
  // (per-cell candidates then stay ~constant); k is pinned to 8 here only
  // so the DuckDB oracle replays the identical cells on the test corpus.
  /** The parameterized graph builder behind s05 — `k` is the production
    * scale knob (k ∝ √N keeps per-cell candidates ~constant; total work
    * then grows as N^1.5, the standard IVF k-NN-graph trade — exercised
    * empirically in ScaleSmokeSpec). */
  private[graft] def knnGraph(s: SparkSession, dir: String, k: Int,
                              nProbes: Int, topK: Int): DataFrame =
    knnGraphOf(emb(s, dir), k, nProbes, topK)

  /** Same builder over an arbitrary `(vec_id, embedding)` frame — the
    * recall specs drive it with synthetic corpora (uniform worst case vs
    * clustered mixture) without writing parquet. */
  private[graft] def knnGraphOf(embDf: DataFrame, k: Int,
                                nProbes: Int, topK: Int): DataFrame = {
    val e = Similarity.prep(embDf, "vec_id", "embedding")
    val cent = graft.operators.Iterate
      .kmeansCentroids(embDf, "vec_id", "embedding", k = k, iters = 1)
      .select(col("cid"), col("cv"), Similarity.norm(col("cv")).as("cn"))
    val scored = e.crossJoin(broadcast(cent))
      .select(col("id"), col("cid"),
        round(Similarity.dot(col("v"), col("cv")) / (col("nrm") * col("cn")), 6).as("ccos"))
    // cells = rank 1 of the SAME window probes ranks with — one ranked pass
    // whose exchange both consumers REUSE (r21, guide §2.4): the former two
    // topNPerGroup calls each re-evaluated `scored`, i.e. the embedding
    // scan, the centroid crossJoin and every centroid dot product ran twice
    val ranked = Relational.topNPerGroup(scored, Seq(col("id")),
      Seq(col("ccos").desc, col("cid")), nProbes)
    val cells = ranked.filter(col("rn") === 1)
      .select(col("id").as("nid"), col("cid").as("cell"))
    val probes = ranked.select(col("id").as("query_id"), col("cid").as("pcell"))
    val cand = probes.join(cells, col("cell") === col("pcell") && col("nid") =!= col("query_id"))
      .select("query_id", "nid")
    val eq = e.select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val en = e.select(col("id").as("cid2"), col("v").as("nv"), col("nrm").as("nn"))
    val pairs = cand.join(eq, col("qid") === col("query_id"))
      .join(en, col("cid2") === col("nid"))
      .select(col("query_id"), col("nid").as("neighbor_id"),
        round(Similarity.dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 6).as("cosine"))
    Relational.topNPerGroup(pairs, Seq(col("query_id")),
      Seq(col("cosine").desc, col("neighbor_id")), topK)
      .select("query_id", "neighbor_id", "cosine", "rn")
  }
  private val s05: Q = (s, dir) => knnGraph(s, dir, k = 8, nProbes = 3, topK = 3)
  private val s05Sql =
    s"""WITH $embCte,
       |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v AS cv
       |       FROM e ORDER BY vec_id LIMIT 8),
       |a1 AS (SELECT vec_id, cid FROM (
       |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY list_sum([x*x for x in e.v]) - 2.0*list_sum([e.v[j]*c.cv[j]
       |      for j in generate_series(1, len(e.v))]) + list_sum([x*x for x in c.cv]), c.cid) AS rn
       |  FROM e CROSS JOIN c0 c) WHERE rn = 1),
       |c1 AS (SELECT cid, list(mx ORDER BY j) AS cv FROM (
       |        SELECT a.cid, j, round(avg(e.v[j]), 6) AS mx
       |        FROM a1 a JOIN e USING (vec_id)
       |        CROSS JOIN (SELECT unnest(generate_series(1,
       |          (SELECT len(v) FROM e LIMIT 1))) AS j) js
       |        GROUP BY a.cid, j) GROUP BY cid),
       |cent AS (SELECT cid, cv, sqrt(list_sum([x*x for x in cv])) AS cn FROM c1),
       |scored AS (SELECT e.vec_id AS id, cid,
       |            ${cosSql("e.v", "cv", "e.nrm", "cn")} AS ccos
       |           FROM e, cent),
       |cells AS (SELECT id AS nid, cid AS cell FROM (
       |           SELECT *, row_number() OVER (PARTITION BY id ORDER BY ccos DESC, cid) AS rn
       |           FROM scored) WHERE rn = 1),
       |probes AS (SELECT id AS query_id, cid AS pcell FROM (
       |            SELECT *, row_number() OVER (PARTITION BY id ORDER BY ccos DESC, cid) AS rn
       |            FROM scored) WHERE rn <= 3),
       |cand AS (SELECT p.query_id, c.nid FROM probes p JOIN cells c
       |          ON c.cell = p.pcell AND c.nid != p.query_id),
       |p2 AS (SELECT query_id, nid AS neighbor_id,
       |        ${cosSql("q.v", "n.v", "q.nrm", "n.nrm")} AS cosine
       |       FROM cand JOIN e q ON q.vec_id = query_id JOIN e n ON n.vec_id = nid)
       |SELECT query_id, neighbor_id, cosine, CAST(rn AS INT) AS rn FROM (
       | SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
       | FROM p2) WHERE rn <= 3""".stripMargin

  // ---------- d16: SemDeDup — semantic dedup over the s05 k-NN graph ----------
  // The SemDeDup pipeline (Abbas et al. 2023: embed → cluster → drop
  // high-cosine neighbors) composed entirely from the engine's own
  // primitives, proving the s05 graph is a reusable building block the
  // way the MinHash path is (d02 → d07 → d08): k-NN edges above the
  // cosine threshold → connected components → one canonical vector per
  // semantic cluster, every vector verdicted. Scale shape: the edge set
  // is the (already bucketed) s05 graph filtered down, CC iterates on
  // edges only (O(edges·diameter)), and the verdict is one keyed left
  // join — nothing touches the N² pair space. Threshold 0.42 sits in the
  // synthetic corpus's top-decile neighbor cosine band so real cluster
  // structure forms at test SFs; production would pin it near 1.
  private val SemCosMin = 0.42
  private val d16: Q = (s, dir) => {
    val g = knnGraph(s, dir, k = 8, nProbes = 3, topK = 3)
    val edges = g.filter(col("cosine") >= SemCosMin)
      .select(col("query_id").as("vec_a"), col("neighbor_id").as("vec_b"))
    val cc = graft.operators.Iterate.connectedComponents(edges, "vec_a", "vec_b")
    emb(s, dir).select(col("vec_id"))
      .join(cc.withColumnRenamed("id", "cc_id"), col("vec_id") === col("cc_id"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("canonical"),
        (coalesce(col("component"), col("vec_id")) === col("vec_id")).as("keep"))
  }
  private val d16Sql =
    s"""WITH RECURSIVE knn AS ($s05Sql),
       |e2 AS (SELECT query_id AS a, neighbor_id AS b FROM knn
       |       WHERE cosine >= $SemCosMin),
       |sym AS (SELECT a AS src, b AS dst FROM e2 UNION SELECT b, a FROM e2),
       |reach(a, b) AS (SELECT src, dst FROM sym
       |        UNION SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src),
       |comp AS (SELECT a AS vec_id, CAST(least(a, min(b)) AS BIGINT) AS component
       |         FROM reach GROUP BY a)
       |SELECT v.vec_id, coalesce(c.component, v.vec_id) AS canonical,
       |       coalesce(c.component, v.vec_id) = v.vec_id AS keep
       |FROM (SELECT vec_id FROM embeddings) v
       |LEFT JOIN comp c ON c.vec_id = v.vec_id""".stripMargin

  // ---------- t01: heuristic language ID ----------
  private val t01: Q = (s, dir) => {
    val toks = TextOps.tokens(col("text"))
    val scoreCols = TextOps.langProfiles.map { case (l, ws) =>
      TextOps.profileScore(toks, ws).as(s"s_$l")
    }
    docs(s, dir).select(col("doc_id") +: scoreCols :+ TextOps.langGuess(toks).as("guess"): _*)
  }
  private val t01Sql = {
    val scores = TextOps.langProfiles.map { case (l, ws) =>
      val set = ws.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(string_split(text, ' '), t -> t IN ($set))) AS INT) AS s_$l"
    }.mkString(", ")
    s"""WITH s AS (SELECT doc_id, $scores FROM documents)
       |SELECT doc_id, s_en, s_fr, s_de,
       | CASE WHEN s_en >= s_fr AND s_en >= s_de THEN 'en'
       |      WHEN s_fr >= s_de THEN 'fr' ELSE 'de' END AS guess
       |FROM s""".stripMargin
  }

  // ---------- t02: quality scoring ----------
  private val t02: Q = (s, dir) => {
    val toks = TextOps.tokens(col("text"))
    val stop = TextOps.profileScore(toks, TextOps.langProfiles.head._2)
    docs(s, dir).select(col("doc_id"),
      length(col("text")).as("n_chars"),
      size(toks).as("n_tokens"),
      (length(regexp_replace(col("text"), " ", "")) * lit(1.0) / size(toks)).as("avg_token_len"),
      (stop * lit(1.0) / size(toks)).as("stop_ratio"),
      (least(size(toks) / lit(50.0), lit(1.0)) * 0.5 + (stop * lit(1.0) / size(toks)) * 0.5).as("quality"))
  }
  private val t02Sql = {
    val set = TextOps.langProfiles.head._2.map(w => s"'$w'").mkString(", ")
    s"""WITH s AS (SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
       |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       |  CAST(length(replace(text, ' ', '')) AS INT) AS n_nospace,
       |  CAST(len(list_filter(string_split(text, ' '), t -> t IN ($set))) AS INT) AS stop FROM documents)
       |SELECT doc_id, n_chars, n_tokens,
       | n_nospace * 1.0 / n_tokens AS avg_token_len,
       | stop * 1.0 / n_tokens AS stop_ratio,
       | least(n_tokens / 50.0, 1.0) * 0.5 + (stop * 1.0 / n_tokens) * 0.5 AS quality
       |FROM s""".stripMargin
  }

  // ---------- t03: token statistics ----------
  private val t03: Q = (s, dir) => {
    val toks = TextOps.tokens(col("text"))
    docs(s, dir).select(col("doc_id"),
      size(toks).as("ws_tokens"),
      size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))).as("re_tokens"),
      size(array_distinct(toks)).as("distinct_tokens"))
  }
  private val t03Sql =
    """SELECT doc_id,
      | CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
      | CAST(length(regexp_extract_all(text, '[a-z]+')) AS INT) AS re_tokens,
      | CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS distinct_tokens
      |FROM documents""".stripMargin

  // ---------- t04: winnowing-style fingerprint ----------
  private val t04: Q = (s, dir) =>
    docs(s, dir)
      // min-md5 over distinct grams == over all grams; distinct first ⇒ one
      // pass and md5 only once per distinct gram
      .select(col("doc_id"), array_distinct(TextDedup.shingles(col("text"), 8)).as("g8"))
      .select(col("doc_id"),
        graft.functions.MinMd5Hex(col("g8")).as("fp"),
        size(col("g8")).as("n_grams"))
  private val t04Sql =
    s"""SELECT doc_id,
       | list_min([md5(g) for g in ${shingleSql("text", 8)}]) AS fp,
       | CAST(len(list_distinct(${shingleSql("text", 8)})) AS INT) AS n_grams
       |FROM documents""".stripMargin

  // ---------- s04: INT8-quantized brute-force top-k ----------
  // The memory-bandwidth path of a 100 TB vector scan: int8 storage reads
  // 4× fewer bytes than float32 and the ranking metric is the quantized
  // cosine. Quantization is floor(x*127/scale + 0.5) on per-vector max-abs
  // scales — integer-valued components keep every quantized dot product
  // and norm exactly representable in doubles, so the oracle hash-matches
  // (no float-noise slack needed). Recall vs the exact ranking is pinned
  // in AnnRecallSpec.
  private val s04: Q = (s, dir) =>
    Similarity.annTopKQuantized(emb(s, dir), "vec_id", "embedding",
      col("id") < 10, 5)
  private val s04Sql =
    s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |es AS (SELECT vec_id, v,
       |        greatest(list_max([abs(x) for x in v]), 1e-12) AS scale FROM e0),
       |eq AS (SELECT vec_id, [floor(x * 127.0 / scale + 0.5) for x in v] AS q FROM es),
       |en AS (SELECT vec_id, q, sqrt(list_sum([x*x for x in q])) AS qn FROM eq),
       |p AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |       ${cosSql("a.q", "b.q", "a.qn", "b.qn")} AS qcos
       |      FROM en a JOIN en b ON b.vec_id != a.vec_id WHERE a.vec_id < 10)
       |SELECT query_id, neighbor_id, qcos, CAST(rn AS INT) AS rn FROM (
       | SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY qcos DESC, neighbor_id) AS rn
       | FROM p) WHERE rn <= 5""".stripMargin

  val queries: Map[String, Q] = Map(
    "d01_dedup_exact" -> d01, "d02_minhash_pairs" -> d02, "d03_simhash" -> d03,
    "d04_jaccard_pairs" -> d04, "d05_cosine_pairs" -> d05, "d06_simhash_pairs" -> d06,
    "s01_ann_topk" -> s01, "s02_ann_lsh" -> s02, "s03_ivf_ann" -> s03,
    "s04_ann_quantized" -> s04, "s05_knn_graph" -> s05,
    "d16_semantic_dedup" -> d16,
    "t01_lang_id" -> t01, "t02_quality_score" -> t02,
    "t03_token_stats" -> t03, "t04_fingerprint" -> t04)

  val oracles: Map[String, String] = Map(
    "d01_dedup_exact" -> d01Sql, "d02_minhash_pairs" -> d02Sql, "d03_simhash" -> d03Sql,
    "d04_jaccard_pairs" -> d04Sql, "d05_cosine_pairs" -> d05Sql,
    "d06_simhash_pairs" -> d06Sql,
    "s01_ann_topk" -> s01Sql, "s02_ann_lsh" -> s02Sql, "s03_ivf_ann" -> s03Sql,
    "s05_knn_graph" -> s05Sql,
    "s04_ann_quantized" -> s04Sql, "d16_semantic_dedup" -> d16Sql,
    "t01_lang_id" -> t01Sql, "t02_quality_score" -> t02Sql,
    "t03_token_stats" -> t03Sql, "t04_fingerprint" -> t04Sql)
}
