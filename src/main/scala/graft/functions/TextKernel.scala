package graft.functions

import java.nio.charset.StandardCharsets
import java.text.Normalizer
import java.util.Arrays

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/**
 * One-pass text kernel: reads a text's UTF-8 bytes once, writes the
 * `normalize_text` form into a reusable per-thread buffer (so per task: a
 * task runs on one thread) and hashes each token in place over its byte
 * range. Nothing per page is materialized on the way — no normalized
 * `String`, no `split` array, no `UTF8String` per token — and every token
 * is hashed once, however many consumers read the hashes.
 *
 * Normalization is [[StringSimKernels.normalize]]'s frozen rule, computed
 * piecewise: ASCII bytes fold inline (`[A-Za-z0-9]` kept and lowercased,
 * every other ASCII byte separates), and only maximal runs of non-ASCII
 * bytes are decoded and NFD-normalized under the per-char rules (drop
 * NON_SPACING_MARK, keep `isLetterOrDigit`, `toLowerCase`). The split is
 * exact: ASCII chars are NFD starters that never decompose, canonical
 * reordering never moves a mark across a starter, and a malformed UTF-8
 * sequence never absorbs an ASCII byte (the decoder re-reads it), so
 * decoding and normalizing each run alone yields the whole-string result.
 *
 * Tokens are the normalized form split on its single spaces, exactly as
 * `split(normalize_text(text), " ")`: text with no letter or digit is ONE
 * empty token, never zero.
 */
private[functions] final class TextScan {
  /** normalized bytes, tokens separated by one space */
  private var buf = new Array[Byte](256)
  private var len = 0
  /** ends(k) = end offset of token k in buf; token k starts at ends(k-1)+1 */
  private var ends = new Array[Int](64)
  private var count = 0
  /** raw xxhash64 of each token's bytes, filled by [[hashTokens]] */
  private var raw = new Array[Long](64)
  private var run = new Array[Byte](64)
  private var pending = false

  def tokens: Int = count
  def rawHashes: Array[Long] = raw

  def normalized: UTF8String = UTF8String.fromBytes(Arrays.copyOf(buf, len))

  /** Normalize `s` into the buffer and record its token boundaries. */
  def scan(s: UTF8String): this.type = {
    len = 0; count = 0; pending = false
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    // ASCII input emits at most one byte per byte read, plus one pending
    // space carried in from a non-ASCII run: reserve that once per stretch
    reserve(n + 1)
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (b >= 0) {
        val f = TextScan.AsciiFold(b)
        if (f != 0) {
          if (pending && len > 0) space()
          pending = false
          buf(len) = f; len += 1
        } else pending = true
        i += 1
      } else {
        var j = i + 1
        while (j < n && Platform.getByte(base, off + j) < 0) j += 1
        foldRun(base, off + i, j - i)
        reserve(len + (n - j) + 1)
        i = j
      }
    }
    endToken()
    this
  }

  /** Fill [[rawHashes]] with xxhash64(token bytes, seed) per token. */
  def hashTokens(seed: Long): this.type = {
    if (raw.length < count) raw = new Array[Long](math.max(count, raw.length * 2))
    var start = 0
    var k = 0
    while (k < count) {
      val end = ends(k)
      raw(k) = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET + start, end - start, seed)
      start = end + 1
      k += 1
    }
    this
  }

  /** Decode one maximal non-ASCII byte run and fold its NFD chars. */
  private def foldRun(base: AnyRef, addr: Long, n: Int): Unit = {
    if (run.length < n) run = new Array[Byte](math.max(n, run.length * 2))
    Platform.copyMemory(base, addr, run, Platform.BYTE_ARRAY_OFFSET, n)
    val nfd = Normalizer.normalize(new String(run, 0, n, StandardCharsets.UTF_8), Normalizer.Form.NFD)
    var k = 0
    while (k < nfd.length) {
      val c = nfd.charAt(k)
      if (Character.getType(c) != Character.NON_SPACING_MARK) {
        if (Character.isLetterOrDigit(c)) emit(Character.toLowerCase(c))
        else pending = true
      }
      k += 1
    }
  }

  /** Append one BMP letter/digit as UTF-8 (never a surrogate: those are
    * neither letters nor digits). */
  private def emit(c: Char): Unit = {
    reserve(len + 4)
    if (pending && len > 0) space()
    pending = false
    if (c < 0x80) {
      buf(len) = c.toByte; len += 1
    } else if (c < 0x800) {
      buf(len) = (0xc0 | (c >> 6)).toByte
      buf(len + 1) = (0x80 | (c & 0x3f)).toByte
      len += 2
    } else {
      buf(len) = (0xe0 | (c >> 12)).toByte
      buf(len + 1) = (0x80 | ((c >> 6) & 0x3f)).toByte
      buf(len + 2) = (0x80 | (c & 0x3f)).toByte
      len += 3
    }
  }

  private def space(): Unit = {
    endToken()
    buf(len) = ' '; len += 1
  }

  private def endToken(): Unit = {
    if (count == ends.length) ends = Arrays.copyOf(ends, count * 2)
    ends(count) = len
    count += 1
  }

  private def reserve(cap: Int): Unit =
    if (buf.length < cap) buf = Arrays.copyOf(buf, math.max(cap, buf.length * 2))
}

private object TextScan {
  /** ASCII byte → its lowercase form if `[A-Za-z0-9]`, else 0 (a separator). */
  private val AsciiFold: Array[Byte] = Array.tabulate[Byte](128) { i =>
    val c = i.toChar
    if (c >= 'A' && c <= 'Z') (c + 32).toByte
    else if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) c.toByte
    else 0
  }
}

/** Static entry points of the one-pass kernel (codegen calls these). Each
  * is bit-identical to the array kernel over `split(normalize_text(text), " ")`. */
object TextKernels {

  private val local = ThreadLocal.withInitial[TextScan](() => new TextScan)

  private def hashed(s: UTF8String, seed: Long): TextScan = local.get.scan(s).hashTokens(seed)

  /** `normalize_text` over raw bytes. */
  def normalize(s: UTF8String): UTF8String = local.get.scan(s).normalized

  /** ≡ `token_ngram_hashes(split(normalize_text(s), " "), n, seed)`. */
  def ngramHashes(s: UTF8String, n: Int, seed: Long): ArrayData = {
    val t = hashed(s, seed)
    HashKernels.ngramsOf(t.rawHashes, t.tokens, n, seed)
  }

  /** ≡ `token_ngram_hash_seq(split(normalize_text(s), " "), n, seed)`. */
  def ngramHashSeq(s: UTF8String, n: Int, seed: Long): ArrayData = {
    val t = hashed(s, seed)
    HashKernels.ngramSeqOf(t.rawHashes, t.tokens, n, seed)
  }

  /** `(tokenHashes, freqHashes)` ≡ `(token_ngram_hashes(toks, 1, seed),
    * tf_filtered_hashes(toks, minTf, minKeep, seed))` from one sort. */
  def featureHashes(s: UTF8String, minTf: Int, minKeep: Int, seed: Long): InternalRow = {
    val t = hashed(s, seed)
    val (distinct, freq) = HashKernels.distinctAndFrequent(t.rawHashes, t.tokens, minTf, minKeep, seed)
    InternalRow(distinct, freq)
  }

  val featureType: StructType = StructType(Seq(
    StructField("tokenHashes", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("freqHashes", ArrayType(LongType, containsNull = false), nullable = false)))
}

/** The text kernels' shared input contract: one STRING, null in → null out. */
private[functions] trait TextInput extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires STRING, got ${child.dataType}")
}

/** `TextNgramHashes(text, n, seed) -> ARRAY<LONG>` (distinct, sorted). */
case class TextNgramHashes(child: Expression, n: Int, seed: Long) extends TextInput {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    TextKernels.ngramHashes(input.asInstanceOf[UTF8String], n, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.ngramHashes($c, $n, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): TextNgramHashes =
    copy(child = newChild)
}

/** `TextNgramHashSeq(text, n, seed) -> ARRAY<LONG>` — positional, in order. */
case class TextNgramHashSeq(child: Expression, n: Int, seed: Long) extends TextInput {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    TextKernels.ngramHashSeq(input.asInstanceOf[UTF8String], n, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.ngramHashSeq($c, $n, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): TextNgramHashSeq =
    copy(child = newChild)
}

/** `TextFeatureHashes(text, minTf, minKeep, seed) ->
  * STRUCT<tokenHashes: ARRAY<LONG>, freqHashes: ARRAY<LONG>>`. */
case class TextFeatureHashes(child: Expression, minTf: Int, minKeep: Int, seed: Long)
    extends TextInput {
  override def dataType: DataType = TextKernels.featureType
  override def nullSafeEval(input: Any): Any =
    TextKernels.featureHashes(input.asInstanceOf[UTF8String], minTf, minKeep, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextKernels.featureHashes($c, $minTf, $minKeep, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): TextFeatureHashes =
    copy(child = newChild)
}
