package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Character k-shingles of a text from ONE pass over its UTF-8 bytes — the
  * kernel behind `TextDedup.shingles` and `TextDedup.lshBands`.
  *
  * A window is k code points. The code-point starts come from one walk
  * with `UTF8String.numBytesForFirstByte`, the step Spark's `length` and
  * `substr` take, so the windows are exactly those of the composable
  * `transform(sequence(1, greatest(length(t) - k + 1, 1)), i -> substr(t, i, k))`,
  * invalid UTF-8 included. That form costs O(L²) per text, because every
  * `substr` walks again from the first byte; this one costs O(L). A text of
  * at most k code points is one window, the whole text (`""` gives `[""]`).
  * One case differs: when the last lead byte claims more bytes than the text
  * has left, the last window ends at the text's last byte, where Spark's
  * `substring` copies bytes from past the end of the string.
  *
  * Two forms, chosen by `bands`:
  *  - `bands == 0`: the windows, as `array<string>`. Each window is a view
  *    (`UTF8String.fromBytes(b, off, len)`) of the array `getBytes` gives,
  *    so a text's bytes are copied at most once, never once per window.
  *    A null text gives `[null]`, as the composable form does.
  *  - `bands > 0`: MinHash-LSH band keys, one string per band. Hash i of a
  *    text is the least, over its distinct windows w, of the (i % 4)-th
  *    8-hex-char chunk of md5(w || ":" || i / 4); band b's key joins hashes
  *    b·r … b·r + r − 1 (r = `rowsPerBand`) with "|". This is what
  *    `concat_ws("|", …)` over `TextDedup.minhash` of the distinct shingles
  *    gives, and what the DuckDB oracle computes. Each distinct window is
  *    hashed once per md5 seed, straight from the byte array; the minima are
  *    unsigned ints (hex order == unsigned order), formatted to hex once. A
  *    null text gives null: it has no band key and never pairs.
  *
  * CodegenFallback: the walk (shingles) or md5 (band keys) is the per-row
  * cost; codegen would only inline the call around it.
  */
case class TextShingles(child: Expression, k: Int, bands: Int = 0, rowsPerBand: Int = 0)
  extends UnaryExpression with CodegenFallback {

  require(k >= 1, s"shingle width must be >= 1, got $k")
  require(bands >= 0 && (bands == 0 || rowsPerBand >= 1),
    s"need bands >= 0 and rowsPerBand >= 1, got $bands x $rowsPerBand")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${other.simpleString}")
  }
  override def dataType: DataType =
    ArrayType(StringType, containsNull = bands == 0 && child.nullable)
  override def nullable: Boolean = bands > 0 && child.nullable
  override def prettyName: String = if (bands == 0) "shingles" else "lsh_band_keys"

  @transient private lazy val digests =
    ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))
  @transient private lazy val seedSuffixes: Array[Array[Byte]] =
    Array.tabulate((bands * rowsPerBand + 3) / 4)(d => s":$d".getBytes("UTF-8"))

  override def eval(input: InternalRow): Any = {
    val text = child.eval(input)
    if (text != null) nullSafeEval(text)
    else if (bands == 0) new GenericArrayData(Array[Any](null))
    else null
  }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val n = bytes.length
    // starts(j) = byte offset of code point j; starts(chars) = n
    val starts = new Array[Int](n + 1)
    var chars = 0
    var i = 0
    while (i < n) {
      starts(chars) = i
      chars += 1
      i += UTF8String.numBytesForFirstByte(bytes(i))
    }
    starts(chars) = n
    val windows = if (chars <= k) 1 else chars - k + 1
    val span = math.min(k, chars)
    if (bands == 0) {
      val out = new Array[Any](windows)
      var w = 0
      while (w < windows) {
        out(w) = UTF8String.fromBytes(bytes, starts(w), starts(w + span) - starts(w))
        w += 1
      }
      new GenericArrayData(out)
    } else bandKeys(bytes, starts, windows, span)
  }

  private def bandKeys(bytes: Array[Byte], starts: Array[Int], windows: Int,
                       span: Int): GenericArrayData = {
    val seeds = seedSuffixes.length
    val mins = Array.fill(seeds * 4)(-1) // 0xffffffff: the unsigned maximum
    val md = digests.get()
    val digest = new Array[Byte](16)
    // open-addressing set of the windows hashed so far, by window index
    val mask = Integer.highestOneBit(windows) * 4 - 1
    val seen = Array.fill(mask + 1)(-1)
    var w = 0
    while (w < windows) {
      val from = starts(w)
      val until = starts(w + span)
      var h = 1
      var j = from
      while (j < until) { h = 31 * h + bytes(j); j += 1 }
      var slot = (h ^ (h >>> 16)) & mask
      var fresh = true
      while (fresh && seen(slot) >= 0) {
        val o = seen(slot)
        if (java.util.Arrays.equals(bytes, from, until, bytes, starts(o), starts(o + span)))
          fresh = false
        else slot = (slot + 1) & mask
      }
      if (fresh) {
        seen(slot) = w
        var d = 0
        while (d < seeds) {
          md.update(bytes, from, until - from)
          md.update(seedSuffixes(d))
          md.digest(digest, 0, 16)
          var c = 0
          while (c < 4) {
            val v = (digest(4 * c) & 0xff) << 24 | (digest(4 * c + 1) & 0xff) << 16 |
              (digest(4 * c + 2) & 0xff) << 8 | (digest(4 * c + 3) & 0xff)
            if (Integer.compareUnsigned(v, mins(4 * d + c)) < 0) mins(4 * d + c) = v
            c += 1
          }
          d += 1
        }
      }
      w += 1
    }
    val keyLen = 9 * rowsPerBand - 1
    new GenericArrayData(Array.tabulate[Any](bands) { b =>
      val key = new Array[Byte](keyLen)
      var r = 0
      while (r < rowsPerBand) {
        val v = mins(b * rowsPerBand + r)
        var x = 0
        while (x < 8) {
          key(9 * r + x) = TextShingles.Hex((v >>> (28 - 4 * x)) & 0xf)
          x += 1
        }
        if (r + 1 < rowsPerBand) key(9 * r + 8) = '|'
        r += 1
      }
      UTF8String.fromBytes(key)
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextShingles {
  private val Hex: Array[Byte] = "0123456789abcdef".getBytes("US-ASCII")

  /** The k-code-point windows of `text`, as `array<string>`. */
  def apply(text: Column, k: Int): Column =
    ColumnBridge.column(TextShingles(ColumnBridge.expression(text), k))

  /** The `bands` MinHash-LSH band keys of `text`'s k-shingles. */
  def bandKeys(text: Column, k: Int, bands: Int, rowsPerBand: Int): Column = {
    require(bands >= 1, s"need at least one band, got $bands")
    ColumnBridge.column(TextShingles(ColumnBridge.expression(text), k, bands, rowsPerBand))
  }
}
