package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.MinhashChunks

/** Text deduplication: exact hash, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Everything is composed from codegen'd Catalyst builtins
  * (`sequence`/`transform`/`aggregate`/`md5`) — no UDFs — so whole-stage
  * codegen applies and the same logic is expressible in the DuckDB oracle.
  *
  * Scale design: candidate generation is an equi-join on band keys, so the
  * shuffle is O(candidates), not O(n²). Hash cost is O(chars × numHashes)
  * per document and fully parallel. Band/row counts tuned so bucket sizes
  * stay small (2 bands × 4 rows ⇒ ~0.1% pair rate on the test corpus).
  */
object TextDedup {

  /** Character k-shingles of a string column (always ≥1 shingle). */
  def shingles(c: Column, k: Int): Column =
    transform(sequence(lit(1), greatest(length(c) - lit(k - 1), lit(1))),
      i => c.substr(i, lit(k)))

  /** One MinHash value: lexicographic min of a seeded 32-bit hash over the
    * shingles. Hash function i is the i%4-th 8-hex-char chunk of
    * md5(shingle || ":" || i/4) — one md5 digest yields FOUR independent
    * hash functions, quartering digest cost. Hex strings compare
    * lexicographically, so Spark and any ANSI-SQL oracle stay bit-identical
    * with no integer conversion. */
  def minhash(shingleArr: Column, i: Int): Column =
    array_min(transform(shingleArr,
      s => substring(md5(concat(s, lit(":" + (i / 4)))), 1 + 8 * (i % 4), 8)))

  /** (doc_id, band, bkey) rows: `bands` bands of `rowsPerBand` minhashes. */
  def lshBands(docs: DataFrame, idCol: String, textCol: String,
               shingleK: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    val numHashes = bands * rowsPerBand
    val numDigests = (numHashes + 3) / 4
    // min over the distinct shingle SET == min over the multiset, and the
    // small-vocab corpus repeats shingles heavily — hash each one once
    val sh = docs.select(col(idCol), array_distinct(shingles(col(textCol), shingleK)).as("sh"))
    // native one-pass signature (graft.functions.MinhashChunks): hash each
    // shingle once per seed, track chunk minima byte-wise — semantically the
    // composable minhash() below, minus the per-(shingle,hash) allocation
    val sig = sh
      .select(col(idCol), MinhashChunks(col("sh"), numDigests).as("mh"))
      .select(col(idCol) +:
        (0 until numHashes).map(i => element_at(col("mh"), i + 1).as(s"h$i")): _*)
    val bandStructs = (0 until bands).map { b =>
      val key = concat_ws("|", (0 until rowsPerBand).map(j => col(s"h${b * rowsPerBand + j}")): _*)
      struct(lit(b).as("band"), key.as("bkey"))
    }
    sig.select(col(idCol), explode(array(bandStructs: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
  }

  /** MinHash-LSH candidate pairs (doc_a < doc_b), deduplicated across bands.
    *
    * The band projection is NOT cached: only the returned plan reads it (see
    * [[CacheScope]]), so a cache would outlive the call. Both join sides then
    * compute the shingle+hash lineage (no `ReusedExchange`), yet a warm
    * no-op write with the cache cleared between calls measured no slower
    * without it (4 cores, JDK 17, Spark 4.1.2; identical pairs, 90 at
    * sf0.005 and 6392 at sf0.1): jobs per call 7 → 5, median wall 479 →
    * 444 ms at sf0.005 and 1362 → 1333 ms at sf0.1, inside the spread.
    *
    * Hot-bucket cap: buckets holding more than `maxBucketSize` docs are
    * DROPPED before the self-join. A degenerate bucket (empty docs, site
    * boilerplate, exact spam copies) would otherwise make the band join
    * quadratic in that bucket — 1M identical docs is 5·10^11 pairs from one
    * key. Dropping is the standard policy: members of a hot bucket are
    * near-identical, so the exact-hash dedup pass (d01) already collapses
    * them, and genuinely-distinct pairs still meet in their other bands.
    * The size count is an aggregation on the SAME (band,bkey) key as the
    * join, so the filter reuses the join's shuffle partitioning. */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        shingleK: Int = 5, bands: Int = 2, rowsPerBand: Int = 4,
                        maxBucketSize: Int = 100): DataFrame = {
    // the cap is a windowed count over EXACTLY the join key, so the one
    // shuffle that sizes the buckets also co-partitions both join sides —
    // cheaper than a count-aggregate + semi-join back
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bkey")
    val bk = lshBands(docs, idCol, textCol, shingleK, bands, rowsPerBand)
      .withColumn("__bsz", count(lit(1)).over(w))
      .filter(col("__bsz") <= maxBucketSize).drop("__bsz")
    val a = bk.select(col(idCol).as("doc_a"), col("band"), col("bkey"))
    val b = bk.select(col(idCol).as("doc_b"), col("band").as("band_b"), col("bkey").as("bkey_b"))
    a.join(b, col("band") === col("band_b") && col("bkey") === col("bkey_b") &&
        col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Hex chars of an md5 digest whose bit `bitInNibble` is set — lets both
    * engines test hash bits with a set-membership check instead of
    * hex→integer conversion. */
  def hexCharsWithBit(bitInNibble: Int): Seq[String] =
    "0123456789abcdef".filter(ch => ((Character.digit(ch, 16) >> bitInNibble) & 1) == 1)
      .map(_.toString)

  /** 16-bit SimHash over a precomputed array of token md5 hex digests
    * (hash once, vote 16 times — see [[simhash16]]). */
  def simhash16FromMd5s(md5s: Column): Column = {
    val bits = (0 until 16).map { j =>
      val cpos = 1 + j / 4
      val chars = hexCharsWithBit(j % 4)
      val vote = aggregate(md5s, lit(0),
        (acc, h) => acc + when(h.substr(lit(cpos), lit(1)).isin(chars: _*), 1).otherwise(-1))
      when(vote > 0, lit(1 << j)).otherwise(lit(0))
    }
    bits.reduce(_ + _)
  }

  /** 16-bit SimHash over whitespace tokens (bit j from md5 hex nibble j/4). */
  def simhash16(textCol: Column): Column =
    simhash16FromMd5s(transform(split(textCol, " "), t => md5(t)))

  // ---- 64-bit SimHash (production width; the Google near-dup paper size) ----
  // Bit j (0..63) votes on bit j%4 of hex nibble j/4 of each token's md5.
  // Instead of 64 array passes, ONE pass per nibble position packs the four
  // bit-counters of that nibble into a single long: multiplying the nibble
  // value by 0x0001000100010001 replicates it at bit offsets 0/16/32/48, and
  // masking bit 17b of the replica isolates bit b, so the running sum keeps
  // four independent 17-bit counters (documents up to 2^17-1 = 131071
  // whitespace tokens; chunk longer documents upstream).
  private val Replicate = 0x0001000100010001L
  private val BitMask = 1L | (1L << 17) | (1L << 34) | (1L << 51)

  /** Packed set-bit counters for hex-nibble position `c` (0..15) over an
    * array of md5 hex digests: counter for bit b at bit offset 17*b. */
  def simhash64PackedVotes(md5s: Column, c: Int): Column =
    aggregate(md5s, lit(0L), (acc, h) =>
      acc + (conv(h.substr(lit(c + 1), lit(1)), 16, 10).cast("long") * Replicate)
        .bitwiseAND(BitMask))

  /** Assemble the 64-bit fingerprint from the 16 packed vote columns
    * ([[simhash64PackedVotes]] for c = 0..15) and the token count `n`.
    * Bit 4c+b is set iff strictly more than half the tokens set it. */
  def simhash64FromVotes(votes: Seq[Column], n: Column): Column = {
    require(votes.size == 16)
    val bits = for { c <- 0 until 16; b <- 0 until 4 } yield {
      val k = shiftright(votes(c), 17 * b).bitwiseAND(0x1ffffL)
      when(k * 2 > n, lit(1L << (4 * c + b))).otherwise(lit(0L))
    }
    bits.reduce(_ bitwiseOR _) // OR, not +: bit 63 is Long.MinValue
  }

  /** Banded-fingerprint candidate pairs (doc_a < doc_b) for any integral
    * signature column, with distinct-free emission: a pair leaves the join
    * only from its FIRST matching band (no earlier band also matches), so no
    * multi-million-row distinct shuffle is needed. The join is an equi-join
    * on (band, band-value) — shuffle is O(candidates), never all-pairs.
    * Returns (doc_a, doc_b, sig_a, sig_b). */
  def bandedFingerprintPairs(df: DataFrame, idCol: String, sigCol: String,
                             nBands: Int, bitsPerBand: Int): DataFrame = {
    val mask = (1L << bitsPerBand) - 1
    val bands = df.select(col(idCol), col(sigCol),
        explode(array((0 until nBands).map(j =>
          struct(lit(j).as("j"),
            shiftright(col(sigCol), bitsPerBand * j).bitwiseAND(mask).as("nib"))): _*)).as("b"))
      .select(col(idCol), col(sigCol), col("b.j").as("j"), col("b.nib").as("nib"))
    val a = bands.select(col(idCol).as("doc_a"), col(sigCol).as("sig_a"),
      col("j"), col("nib"))
    val b = bands.select(col(idCol).as("doc_b"), col(sigCol).as("sig_b"),
      col("j").as("j2"), col("nib").as("nib2"))
    val firstMatch = (0 until nBands).map { jp =>
      val na = shiftright(col("sig_a"), bitsPerBand * jp).bitwiseAND(mask)
      val nb = shiftright(col("sig_b"), bitsPerBand * jp).bitwiseAND(mask)
      when(col("j") > jp, na =!= nb).otherwise(lit(true))
    }.reduce(_ && _)
    a.join(b, col("j") === col("j2") && col("nib") === col("nib2") &&
        col("doc_a") < col("doc_b"))
      .filter(firstMatch)
      .select("doc_a", "doc_b", "sig_a", "sig_b")
  }

  /** Exact n-gram Jaccard between two text columns (distinct char n-grams).
    * Inclusion–exclusion denominator: for distinct arrays |A∪B| =
    * |A|+|B|−|A∩B| exactly (integers), so the union array is never built —
    * one hash-set pass per pair instead of two, bit-identical value. */
  def ngramJaccard(a: Column, b: Column, n: Int): Column = {
    val ga = array_distinct(shingles(a, n))
    val gb = array_distinct(shingles(b, n))
    jaccardOfDistinct(ga, gb)
  }

  /** Jaccard of two ALREADY-DISTINCT arrays via inclusion–exclusion (see
    * [[ngramJaccard]]); the shared array_intersect is eliminated by codegen
    * common-subexpression elimination. */
  def jaccardOfDistinct(ga: Column, gb: Column): Column = {
    val i = size(array_intersect(ga, gb))
    i * lit(1.0) / (size(ga) + size(gb) - i)
  }
}
