package graft.functions

import java.util.Locale

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * String-similarity kernels for the pairwise scorer (SURVEY.md §2.4 J8).
 *
 * The reference's reader scores (window × candidate) pairs with a neural
 * forward pass (`/root/reference/relik/reader/pytorch_modules/hf/
 * modeling_relik.py:239-456`); our ER reframing replaces it with classic
 * record-linkage similarities: Jaro-Winkler (custom, no Spark built-in),
 * Levenshtein similarity (wrapping the built-in), and normalized-token
 * overlap. All kernels are pure static methods so Catalyst codegen can call
 * them directly (single static call inside whole-stage codegen).
 */
object StringSimKernels {

  /** Standard Jaro similarity ∈ [0,1]. */
  def jaro(a: String, b: String): Double = {
    val la = a.length
    val lb = b.length
    if (la == 0 && lb == 0) return 1.0
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(0, math.max(la, lb) / 2 - 1)
    val aMatched = new Array[Boolean](la)
    val bMatched = new Array[Boolean](lb)
    var matches = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!bMatched(j) && a.charAt(i) == b.charAt(j)) {
          aMatched(i) = true; bMatched(j) = true; matches += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    // transpositions: compare matched chars in order
    var t = 0
    var k = 0
    i = 0
    while (i < la) {
      if (aMatched(i)) {
        while (!bMatched(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val m = matches.toDouble
    // t/2 uses integer division — matches the RapidFuzz/DuckDB definition
    (m / la + m / lb + (m - (t / 2)) / m) / 3.0
  }

  /**
   * Jaro-Winkler with standard scaling p=0.1, prefix cap 4, boost
   * threshold 0.7 (the common/DuckDB-compatible definition).
   */
  def jaroWinkler(a: String, b: String): Double = {
    val j = jaro(a, b)
    if (j <= 0.7) return j
    var prefix = 0
    val max = math.min(4, math.min(a.length, b.length))
    while (prefix < max && a.charAt(prefix) == b.charAt(prefix)) prefix += 1
    j + prefix * 0.1 * (1.0 - j)
  }

  /** Jaro over raw ASCII bytes — identical arithmetic to [[jaro]] when
    * every char is single-byte (byte positions == char positions). Avoids
    * the two String allocations + UTF-16 decode per pair that dominated
    * the scorer's per-pair cost at 650k floor-passing candidates/run. */
  private def jaroAscii(a: UTF8String, b: UTF8String): Double = {
    val la = a.numBytes
    val lb = b.numBytes
    if (la == 0 && lb == 0) return 1.0
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(0, math.max(la, lb) / 2 - 1)
    val aMatched = new Array[Boolean](la)
    val bMatched = new Array[Boolean](lb)
    var matches = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var found = false
      val ca = a.getByte(i)
      while (j <= hi && !found) {
        if (!bMatched(j) && ca == b.getByte(j)) {
          aMatched(i) = true; bMatched(j) = true; matches += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < la) {
      if (aMatched(i)) {
        while (!bMatched(k)) k += 1
        if (a.getByte(i) != b.getByte(k)) t += 1
        k += 1
      }
      i += 1
    }
    val m = matches.toDouble
    (m / la + m / lb + (m - (t / 2)) / m) / 3.0
  }

  def jaroWinklerU(a: UTF8String, b: UTF8String): Double = {
    // ASCII fast path (normalized mentions are single-byte in practice):
    // byte-wise jaro is exact when numBytes == numChars on BOTH sides —
    // any multi-byte char falls back to the String path
    if (a.numBytes == a.numChars && b.numBytes == b.numChars) {
      val j = jaroAscii(a, b)
      if (j <= 0.7) return j
      var prefix = 0
      val max = math.min(4, math.min(a.numBytes, b.numBytes))
      while (prefix < max && a.getByte(prefix) == b.getByte(prefix)) prefix += 1
      return j + prefix * 0.1 * (1.0 - j)
    }
    jaroWinkler(a.toString, b.toString)
  }

  /** Levenshtein similarity = 1 - dist/maxLen (1.0 for two empties). */
  def levenshteinSim(a: UTF8String, b: UTF8String): Double = {
    val m = math.max(a.numChars(), b.numChars())
    if (m == 0) 1.0 else 1.0 - a.levenshteinDistance(b).toDouble / m
  }

  /**
   * ER name/text normalization (frozen pure function; SURVEY.md §7.4.1):
   * Unicode NFD → strip combining marks → lowercase(Locale.ROOT) →
   * non-alphanumeric runs become single spaces → trim. Computed by the
   * one-pass byte kernel ([[TextScan]]: ASCII folded inline, only non-ASCII
   * runs go through NFD). A String round-trips through UTF-8 exactly for
   * this rule: a lone surrogate encodes as '?', and both are separators.
   */
  def normalize(s: String): String = normalizeU(UTF8String.fromString(s)).toString

  def normalizeU(s: UTF8String): UTF8String = TextKernels.normalize(s)

  /** Locale-pinned lowercase used anywhere case-folding is needed. */
  def lowerRoot(s: String): String = s.toLowerCase(Locale.ROOT)
}

/** `JaroWinkler(a STRING, b STRING) -> DOUBLE` — codegen'd static call. */
case class JaroWinkler(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"JaroWinkler requires (STRING, STRING), got (${left.dataType}, ${right.dataType})")

  override def nullSafeEval(a: Any, b: Any): Any =
    StringSimKernels.jaroWinklerU(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.StringSimKernels.jaroWinklerU($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaroWinkler =
    copy(left = l, right = r)
}

/** `LevenshteinSim(a, b) -> DOUBLE` = 1 - lev(a,b)/max(len). */
case class LevenshteinSim(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("LevenshteinSim requires (STRING, STRING)")

  override def nullSafeEval(a: Any, b: Any): Any =
    StringSimKernels.levenshteinSim(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.StringSimKernels.levenshteinSim($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): LevenshteinSim =
    copy(left = l, right = r)
}

/** `NormalizeText(s) -> STRING` — NFD-fold + lower + alnum-collapse. */
case class NormalizeText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("NormalizeText requires STRING")

  override def nullSafeEval(input: Any): Any =
    StringSimKernels.normalizeU(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.StringSimKernels.normalizeU($c)")

  override protected def withNewChildInternal(newChild: Expression): NormalizeText =
    copy(child = newChild)
}
