package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextDedup

/** The native shingle kernel ([[graft.functions.TextShingles]]) against the
  * composable builtin forms it replaced, kept here as the oracle: the
  * `sequence`/`transform`/`substr` shingles, [[TextDedup.minhash]] over their
  * distinct set, and the windowed-count + self-join candidate plan. */
class ShingleKernelSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  private def oracleShingles(c: Column, k: Int): Column =
    transform(sequence(lit(1), greatest(length(c) - lit(k - 1), lit(1))),
      i => c.substr(i, lit(k)))

  private def oracleBandKeys(text: Column, k: Int, bands: Int, rows: Int): Column = {
    val sh = array_distinct(oracleShingles(text, k))
    array((0 until bands).map(b =>
      concat_ws("|", (0 until rows).map(j => TextDedup.minhash(sh, b * rows + j)): _*)): _*)
  }

  private def oracleCandidates(docs: DataFrame, maxBucketSize: Int): DataFrame = {
    val sig = docs.select(col("doc_id"),
      posexplode(oracleBandKeys(col("text"), 5, 2, 4)).as(Seq("band", "bkey")))
    val bk = sig
      .withColumn("n", count(lit(1)).over(Window.partitionBy("band", "bkey")))
      .filter(col("n") <= maxBucketSize).drop("n")
    val a = bk.select(col("doc_id").as("doc_a"), col("band"), col("bkey"))
    val b = bk.select(col("doc_id").as("doc_b"), col("band").as("band_b"), col("bkey").as("bkey_b"))
    a.join(b, col("band") === col("band_b") && col("bkey") === col("bkey_b") &&
        col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Each element as hex bytes, so invalid UTF-8 compares byte for byte. */
  private def hexed(arr: Column): Column = transform(arr, s => hex(s.cast("binary")))

  /** ASCII, 2-, 3- and 4-byte UTF-8, text shorter than k, "" and null,
    * plus invalid UTF-8 (a stray continuation byte, 0xff, an overlong
    * 0xc0 0xaf, an encoded surrogate, a 5-byte lead) made by a cast. */
  private val texts: DataFrame = {
    val valid = Seq("the quick brown fox jumps", "ab", "abcde", "é ß ü ö café",
      "€ 中文 日本語 한국어", "emoji 😀🎉 mixed 🚀 text", "😀😀😀😀😀😀", "", null)
      .toDF("t")
    val invalid = Seq("61806262FF63C3A964", "C0AF616263", "EDA080616263646566",
      "F888808080616263", "8080808080", "E282AC80BF41")
      .toDF("h").select(unhex(col("h")).cast("string").as("t"))
    valid.union(invalid)
  }

  test("invalid UTF-8 inputs reach the kernel unrepaired") {
    val got = texts.select(hex(col("t").cast("binary"))).as[String].collect().toSet
    assert(Set("61806262FF63C3A964", "EDA080616263646566", "F888808080616263").subsetOf(got))
  }

  test("shingles equal the composable substr form on every input and k") {
    Seq(1, 2, 3, 5, 8).foreach { k =>
      val rows = texts.select(hex(col("t").cast("binary")).as("t_hex"),
          hexed(TextDedup.shingles(col("t"), k)).as("got"),
          hexed(oracleShingles(col("t"), k)).as("want"))
        .as[(String, Seq[String], Seq[String])].collect()
      assert(rows.length == 15)
      rows.foreach { case (t, got, want) => assert(got == want, s"k=$k text=$t") }
    }
  }

  test("a null text shingles to [null], an empty one to [\"\"]") {
    val r = Seq[String](null, "").toDF("t")
      .select(TextDedup.shingles(col("t"), 5)).as[Seq[String]].collect()
    assert(r.toSeq == Seq(Seq(null), Seq("")))
  }

  test("a code point cut short by the end of the text ends at the last byte") {
    // 0xe2 claims three bytes and only two are left
    val r = Seq("616263E282").toDF("h")
      .select(hexed(TextDedup.shingles(unhex(col("h")).cast("string"), 2)))
      .as[Seq[String]].head()
    assert(r == Seq("6162", "6263", "63E282"))
  }

  test("band keys equal concat_ws over the composable minhash of distinct shingles") {
    Seq((5, 2, 4), (3, 3, 3), (1, 1, 1), (2, 5, 2)).foreach { case (k, bands, rows) =>
      val got = texts.filter(col("t").isNotNull).select(
          graft.functions.TextShingles.bandKeys(col("t"), k, bands, rows).as("got"),
          oracleBandKeys(col("t"), k, bands, rows).as("want"))
        .as[(Seq[String], Seq[String])].collect()
      assert(got.length == 14)
      got.foreach { case (g, w) => assert(g == w, s"k=$k bands=$bands rows=$rows") }
    }
  }

  /** `n` seeded near-duplicate docs over a small vocabulary, plus `copies`
    * docs of one boilerplate text (one bucket per band holds exactly those);
    * `nullIds` of the copies have a null id, so they count toward the cap
    * but never pair. */
  private def corpus(seed: Int, n: Int, copies: Int, nullIds: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector("graph", "stream", "join", "window", "state", "spark",
      "query", "engine", "shuffle", "bucket", "token", "dedup")
    val bases = Vector.fill(n / 4)(Vector.fill(8)(vocab(rnd.nextInt(vocab.size))))
    val docs = (0 until n).map { i =>
      val ws = bases(rnd.nextInt(bases.size))
      val edited = if (rnd.nextBoolean()) ws.updated(rnd.nextInt(ws.size), vocab(rnd.nextInt(vocab.size))) else ws
      (Option(i.toLong), edited.mkString(" "))
    }
    val boiler = (0 until copies).map(j =>
      (if (j < nullIds) None else Some(10000L + j), "site boilerplate footer, all rights reserved"))
    (docs ++ boiler).toDF("doc_id", "text")
  }

  test("minhashCandidates equals the self-join plan at and just past the bucket cap") {
    val cap = 6
    Seq((11, cap, 0), (12, cap + 1, 0), (13, cap, 1), (14, cap + 1, 2)).foreach {
      case (seed, copies, nullIds) =>
        val docs = corpus(seed, 240, copies, nullIds)
        val got = TextDedup.minhashCandidates(docs, "doc_id", "text", maxBucketSize = cap)
          .as[(Long, Long)].collect().toSet
        val want = oracleCandidates(docs, cap).as[(Long, Long)].collect().toSet
        assert(got == want, s"seed $seed: ${got.size} pairs against ${want.size}")
        val boilerPairs = got.count(_._1 >= 10000L)
        val kept = copies - nullIds
        assert(boilerPairs == (if (copies <= cap) kept * (kept - 1) / 2 else 0), s"seed $seed")
        assert(got.size > boilerPairs, s"seed $seed: the corpus has near-dup pairs")
    }
  }

  test("a null text never pairs and has no band rows") {
    val docs = Seq((1L, null), (2L, null), (3L, "one shared text"), (4L, "one shared text"))
      .toDF("doc_id", "text")
    assert(TextDedup.lshBands(docs, "doc_id", "text", 5, 2, 4)
      .filter(col("doc_id") <= 2).count() == 0)
    assert(TextDedup.minhashCandidates(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSeq == Seq((3L, 4L)))
  }
}
