package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextShingles

/** Text deduplication: exact hash, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Shingling and MinHash run in one native kernel,
  * [[graft.functions.TextShingles]]: one pass over a text's UTF-8 bytes
  * finds its code points, and the band keys hash each distinct window
  * straight from the bytes. Its results are those of the composable
  * `sequence`/`transform`/`substr`/`md5` forms ([[minhash]] keeps the
  * definition), so the same logic stays expressible in the DuckDB oracle.
  * SimHash and Jaccard are codegen'd Catalyst builtins, with no UDFs.
  *
  * Scale design: candidates come from grouping band keys, so the shuffle is
  * O(band rows + candidates), not O(n²). Hash cost is O(bytes × md5 seeds)
  * per document and fully parallel. Band/row counts tuned so bucket sizes
  * stay small (2 bands × 4 rows ⇒ ~0.1% pair rate on the test corpus).
  */
object TextDedup {

  /** Character k-shingles of a string column (always ≥1 shingle; a null
    * text gives `[null]`). */
  def shingles(c: Column, k: Int): Column = TextShingles(c, k)

  /** One MinHash value: lexicographic min of a seeded 32-bit hash over the
    * shingles. Hash function i is the i%4-th 8-hex-char chunk of
    * md5(shingle || ":" || i/4) — one md5 digest yields FOUR independent
    * hash functions, quartering digest cost. Hex strings compare
    * lexicographically, so Spark and any ANSI-SQL oracle stay bit-identical
    * with no integer conversion. [[lshBands]] computes these values in its
    * kernel; this composable form is their definition. */
  def minhash(shingleArr: Column, i: Int): Column =
    array_min(transform(shingleArr,
      s => substring(md5(concat(s, lit(":" + (i / 4)))), 1 + 8 * (i % 4), 8)))

  /** (doc_id, band, bkey) rows: `bands` bands of `rowsPerBand` minhashes,
    * the key being the band's values joined with "|". A doc with a null
    * text has no rows, so it never pairs (the oracle's NULL key never
    * joins). */
  def lshBands(docs: DataFrame, idCol: String, textCol: String,
               shingleK: Int, bands: Int, rowsPerBand: Int): DataFrame =
    docs.select(col(idCol),
      posexplode(TextShingles.bandKeys(col(textCol), shingleK, bands, rowsPerBand))
        .as(Seq("band", "bkey")))

  /** MinHash-LSH candidate pairs (doc_a < doc_b), deduplicated across bands.
    *
    * One aggregate per (band, bkey) bucket collects its ids and counts its
    * rows; every `a < b` pair of a kept bucket is emitted from the sorted
    * id list, and one `distinct` merges the pairs the bands share. That is
    * two shuffles, and the band lineage is computed once, so nothing is
    * cached: only the returned plan reads the bands (see [[CacheScope]]).
    *
    * Hot-bucket cap: buckets holding more than `maxBucketSize` band rows are
    * DROPPED before any pair is made. A degenerate bucket (empty docs, site
    * boilerplate, exact spam copies) would otherwise be quadratic in that
    * bucket — 1M identical docs is 5·10^11 pairs from one key. Dropping is
    * the standard policy: members of a hot bucket are near-identical, so the
    * exact-hash dedup pass (d01) already collapses them, and
    * genuinely-distinct pairs still meet in their other bands. The count
    * runs over the same rows as the id list, so a null id counts toward the
    * cap but never pairs. Memory: `collect_list` holds a bucket's ids until
    * the cap drops the bucket, so a hot bucket costs one boxed id per member
    * in the task that owns its key (and per map task, in the partial
    * aggregate), never a row per member pair. */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        shingleK: Int = 5, bands: Int = 2, rowsPerBand: Int = 4,
                        maxBucketSize: Int = 100): DataFrame =
    lshBands(docs, idCol, textCol, shingleK, bands, rowsPerBand)
      .groupBy("band", "bkey")
      .agg(count(lit(1)).as("n"), sort_array(collect_list(col(idCol))).as("ids"))
      .filter(col("n") > 1 && col("n") <= maxBucketSize)
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "doc_a")))
      .select(col("doc_a"),
        explode(slice(col("ids"), col("i") + 2, size(col("ids")) - col("i") - 1)).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .distinct()

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
