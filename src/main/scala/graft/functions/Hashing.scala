package graft.functions

import java.util.Arrays

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Deterministic hashing kernels for blocking (SURVEY.md §2.4 J1): character
 * shingles, word n-grams, MinHash signatures, LSH band keys, SimHash, and a
 * rolling document fingerprint.
 *
 * Replaces the reference's dense-retrieval index (`/root/reference/relik/
 * retriever/indexers/inmemory.py:269-315`, FAISS variant `faissindex.py:343-370`)
 * with MinHash-LSH: P(two sets share a band key) = 1-(1-j^r)^b for Jaccard j.
 * Everything is seeded and row-keyed — no RNG at execution time (north-rule
 * determinism, SURVEY.md §7.4.6).
 */
object HashKernels {

  /** xxhash64 of a UTF8String's bytes with an explicit seed. */
  def hashU(s: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed)

  /** murmur64 finalizer — used to derive per-permutation hash families. */
  @inline def mix64(v: Long): Long = {
    var h = v
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  private def sortedDistinct(arr: Array[Long], n: Int): Array[Long] = {
    if (n == 0) return Array.emptyLongArray
    val a = Arrays.copyOf(arr, n)
    Arrays.sort(a)
    var w = 1
    var i = 1
    while (i < n) {
      if (a(i) != a(w - 1)) { a(w) = a(i); w += 1 }
      i += 1
    }
    Arrays.copyOf(a, w)
  }

  /** Distinct, sorted hashes of all char k-shingles of `s` (whole-string hash if |s|<k). */
  def charShingles(s: UTF8String, k: Int, seed: Long): ArrayData = {
    val str = s.toString
    val n = str.length
    if (n == 0) return new GenericArrayData(Array.emptyLongArray)
    if (n <= k) {
      return new GenericArrayData(Array(hashU(UTF8String.fromString(str), seed)))
    }
    val out = new Array[Long](n - k + 1)
    var i = 0
    while (i + k <= n) {
      // hash the UTF-16 chars of the shingle via a polynomial + mix (cheap, stable)
      var h = seed
      var j = i
      while (j < i + k) { h = h * 0x100000001b3L + str.charAt(j); j += 1 }
      out(i) = mix64(h)
      i += 1
    }
    new GenericArrayData(sortedDistinct(out, out.length))
  }

  /** Per-token xxhash64 of a token array (a null token hashes to 0): the
    * raw input every token kernel below combines — the one-pass text
    * kernel ([[TextKernels]]) computes the same values straight from the
    * text's bytes. */
  private def rawHashes(tokens: ArrayData, seed: Long): Array[Long] = {
    val cnt = tokens.numElements()
    val raw = new Array[Long](cnt)
    var i = 0
    while (i < cnt) {
      val t = tokens.getUTF8String(i)
      raw(i) = if (t == null) 0L else hashU(t, seed)
      i += 1
    }
    raw
  }

  /** Distinct, sorted hashes of word n-grams over a token array. */
  def tokenNgrams(tokens: ArrayData, n: Int, seed: Long): ArrayData =
    ngramsOf(rawHashes(tokens, seed), tokens.numElements(), n, seed)

  /** [[tokenNgrams]] over the first `cnt` raw token hashes: gram i chains
    * `h = mix64(h ^ raw(j))` from `h = seed` over tokens [i, i+n); a doc
    * shorter than n tokens yields its whole-doc gram. */
  private[functions] def ngramsOf(raw: Array[Long], cnt: Int, n: Int, seed: Long): ArrayData = {
    if (cnt == 0) return new GenericArrayData(Array.emptyLongArray)
    val m = math.max(1, cnt - n + 1)
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = seed
      var j = i
      val end = math.min(cnt, i + n)
      while (j < end) { h = mix64(h ^ raw(j)); j += 1 }
      out(i) = h
      i += 1
    }
    new GenericArrayData(sortedDistinct(out, m))
  }

  /** POSITIONAL word n-gram hashes: out(i) = hash of tokens[i..i+n), in
    * document order, duplicates kept — the positional twin of
    * [[tokenNgrams]] (identical per-gram hash chain, so gram identities
    * agree across the two). A doc shorter than n tokens yields an EMPTY
    * array: a strict n-token window cannot exist, and unlike the set
    * variant there is no whole-doc fallback (a positional consumer needs
    * every entry to be a real window at its index). */
  def tokenNgramSeq(tokens: ArrayData, n: Int, seed: Long): ArrayData =
    ngramSeqOf(rawHashes(tokens, seed), tokens.numElements(), n, seed)

  /** [[tokenNgramSeq]] over the first `cnt` raw token hashes. */
  private[functions] def ngramSeqOf(raw: Array[Long], cnt: Int, n: Int, seed: Long): ArrayData = {
    if (cnt < n) return new GenericArrayData(Array.emptyLongArray)
    val m = cnt - n + 1
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = seed
      var j = i
      while (j < i + n) { h = mix64(h ^ raw(j)); j += 1 }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  /**
   * Distinct sorted hashes of tokens whose in-document term frequency is
   * ≥ `minTf`. Repeated tokens characterize a document's topic; hapax
   * tokens are mostly noise — filtering them sharpens the MinHash Jaccard
   * contrast between same-topic and different-topic documents. Falls back
   * to all distinct tokens when fewer than `minKeep` survive (short docs).
   *
   * Per-token hash is `mix64(seed ^ hashU(t))` — EXACTLY [[tokenNgrams]]
   * with n=1, deliberately: consumers subtract a DF-stop set computed over
   * `tokenNgrams` output (`Blocking.features`' `array_except(freqHashes,
   * stops)`), which only works if both kernels hash a given token to the
   * same value. An earlier version skipped the mix64 wrapper here; the two
   * domains were disjoint and the DF-stop silently removed nothing from
   * freqHashes — invisible on short pages (nothing frequent passes TF≥2),
   * signal-destroying on realistic page lengths where glue vocabulary
   * repeats in-doc.
   */
  def tfFilteredHashes(tokens: ArrayData, minTf: Int, minKeep: Int, seed: Long): ArrayData =
    distinctAndFrequent(rawHashes(tokens, seed), tokens.numElements(), minTf, minKeep, seed)._2

  /** `(tokenNgrams(·, 1), tfFilteredHashes)` over the first `cnt` raw
    * token hashes from ONE sort of the per-token hashes: a single pass
    * over the sorted run lengths yields both the distinct set and the
    * frequent subset. */
  private[functions] def distinctAndFrequent(raw: Array[Long], cnt: Int, minTf: Int, minKeep: Int,
                                             seed: Long): (ArrayData, ArrayData) = {
    val all = new Array[Long](cnt)
    var i = 0
    while (i < cnt) { all(i) = mix64(seed ^ raw(i)); i += 1 }
    Arrays.sort(all)
    val kept = new Array[Long](cnt)
    var nk = 0; var nd = 0
    i = 0
    while (i < cnt) {
      var j = i
      while (j < cnt && all(j) == all(i)) j += 1
      if (j - i >= minTf) { kept(nk) = all(i); nk += 1 }
      all(nd) = all(i); nd += 1 // compact the distinct values in place
      i = j
    }
    val distinct = new GenericArrayData(Arrays.copyOf(all, nd))
    (distinct, if (nk >= minKeep) new GenericArrayData(Arrays.copyOf(kept, nk)) else distinct)
  }

  /**
   * MinHash signature of a hashed-shingle set: sig_i = min over x of
   * mix64(x * a_i + b_i), with (a_i, b_i) derived from `seed`. Empty sets get
   * an EMPTY signature: a shared sentinel value would make every empty doc
   * (boilerplate-only pages after DF-stop) collide in banding and estimate
   * similarity 1.0 against every other empty doc — auto-merging unrelated
   * pages. Empty signatures produce no band keys (`bandKeys`) and overlap
   * 0.0 (`sigOverlap`), i.e. contentless docs never near-dup match.
   */
  def minHashSig(hashes: ArrayData, numHashes: Int, seed: Long): ArrayData = {
    val n = hashes.numElements()
    if (n == 0) return new GenericArrayData(Array.emptyLongArray)
    val sig = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) {
      val a = mix64(seed + 2L * i + 1L) | 1L // odd multiplier
      val b = mix64(seed ^ (0x9e3779b97f4a7c15L * (i + 1)))
      var best = Long.MaxValue
      var j = 0
      while (j < n) {
        val h = mix64(hashes.getLong(j) * a + b)
        if (h < best) best = h
        j += 1
      }
      sig(i) = best
      i += 1
    }
    new GenericArrayData(sig)
  }

  /**
   * LSH band keys from a signature: key_j = mix-combine of rows
   * [j*r, (j+1)*r) with the band index folded in, so keys from different
   * bands never equi-join with each other.
   */
  def bandKeys(sig: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    if (sig.numElements() == 0) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](bands)
    var j = 0
    while (j < bands) {
      var h = 0x27d4eb2f165667c5L + j
      var r = j * rowsPerBand
      val end = r + rowsPerBand
      while (r < end && r < sig.numElements()) {
        h = mix64(h ^ sig.getLong(r))
        r += 1
      }
      out(j) = h
      j += 1
    }
    new GenericArrayData(out)
  }

  /** 64-bit SimHash over a hashed-token multiset. */
  def simHash(hashes: ArrayData, seed: Long): Long = {
    val counts = new Array[Int](64)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val h = mix64(hashes.getLong(i) ^ seed)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /**
   * LSH keys for 64-bit SimHash fingerprints at hamming radius
   * `segments - choose` (Manku et al., WWW'07 §3 — the public simhash
   * dedup scheme): split the fingerprint into `segments` equal bit blocks
   * and emit one key per `choose`-combination of blocks. Two fingerprints
   * within hamming distance d corrupt at most d blocks, so at least
   * `segments - d` blocks match exactly; whenever `segments - d >= choose`
   * some emitted combination is identical on both sides — collision is
   * GUARANTEED (not probabilistic) for d <= segments - choose.
   *
   * Key layout: mix64-fold of (combination id, block values in position
   * order) so keys from different tables never equi-join. `choose` ∈ {1, 2}:
   * 1 → `segments` keys (radius s-1, short block keys — small corpora);
   * 2 → C(s,2) keys of 2×(64/s) bits (radius s-2 with wider, more selective
   * keys — the web-scale setting; default 8C2 = 28 keys, radius 6).
   */
  def simhashBandKeys(fp: Long, segments: Int, choose: Int): ArrayData = {
    val segBits = 64 / segments
    val mask = if (segBits == 64) -1L else (1L << segBits) - 1L
    if (choose == 1) {
      val out = new Array[Long](segments)
      var i = 0
      while (i < segments) {
        out(i) = mix64(mix64(0x53484b31L + i) ^ ((fp >>> (i * segBits)) & mask))
        i += 1
      }
      new GenericArrayData(out)
    } else {
      val out = new Array[Long](segments * (segments - 1) / 2)
      var k = 0
      var a = 0
      while (a < segments) {
        val va = (fp >>> (a * segBits)) & mask
        var b = a + 1
        while (b < segments) {
          val vb = (fp >>> (b * segBits)) & mask
          out(k) = mix64(mix64(mix64(0x53484b32L + a * 64 + b) ^ va) ^ vb)
          k += 1
          b += 1
        }
        a += 1
      }
      new GenericArrayData(out)
    }
  }

  /** Polynomial rolling fingerprint of a string's UTF-16 chars (FNV-1a-ish). */
  def rollingFingerprint(s: UTF8String): Long = {
    val str = s.toString
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < str.length) { h = (h ^ str.charAt(i)) * 0x100000001b3L; i += 1 }
    h
  }

  def hammingDistance64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Fraction of equal positions of two equal-length MinHash signatures —
    * an unbiased estimate of the Jaccard similarity of the underlying sets. */
  def sigOverlap(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    if (n == 0) return 0.0
    var eq = 0
    var i = 0
    while (i < n) { if (a.getLong(i) == b.getLong(i)) eq += 1; i += 1 }
    eq.toDouble / n
  }

  /** Exact Jaccard of two sorted-distinct long arrays (merge intersect). */
  def jaccardSorted(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    if (na == 0 && nb == 0) return 1.0
    if (na == 0 || nb == 0) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter)
  }
}

/** `MinHashOverlap(sigA, sigB) -> DOUBLE` — Jaccard estimate from signatures. */
case class MinHashOverlap(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"MinHashOverlap requires (ARRAY<LONG>, ARRAY<LONG>), got $other")
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.sigOverlap(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashKernels.sigOverlap($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): MinHashOverlap =
    copy(left = l, right = r)
}

/** `JaccardSorted(a, b) -> DOUBLE` — exact Jaccard of sorted-distinct ARRAY<LONG>. */
case class JaccardSorted(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"JaccardSorted requires (ARRAY<LONG>, ARRAY<LONG>), got $other")
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.jaccardSorted(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashKernels.jaccardSorted($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardSorted =
    copy(left = l, right = r)
}

/** `CharShingleHashes(text, k, seed) -> ARRAY<LONG>` (distinct, sorted). */
case class CharShingleHashes(child: Expression, k: Int, seed: Long) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("CharShingleHashes requires STRING")
  override def nullSafeEval(input: Any): Any =
    HashKernels.charShingles(input.asInstanceOf[UTF8String], k, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.charShingles($c, $k, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): CharShingleHashes =
    copy(child = newChild)
}

/** `TokenNgramHashes(tokens ARRAY<STRING>, n, seed) -> ARRAY<LONG>`. */
case class TokenNgramHashes(child: Expression, n: Int, seed: Long) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"TokenNgramHashes requires ARRAY<STRING>, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    HashKernels.tokenNgrams(input.asInstanceOf[ArrayData], n, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.tokenNgrams($c, $n, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): TokenNgramHashes =
    copy(child = newChild)
}

/** `TokenNgramHashSeq(tokens ARRAY<STRING>, n, seed) -> ARRAY<LONG>` — positional, in order. */
case class TokenNgramHashSeq(child: Expression, n: Int, seed: Long) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"TokenNgramHashSeq requires ARRAY<STRING>, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    HashKernels.tokenNgramSeq(input.asInstanceOf[ArrayData], n, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.tokenNgramSeq($c, $n, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): TokenNgramHashSeq =
    copy(child = newChild)
}

/** `TfFilteredHashes(tokens ARRAY<STRING>, minTf, minKeep, seed) -> ARRAY<LONG>`. */
case class TfFilteredHashes(child: Expression, minTf: Int, minKeep: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"TfFilteredHashes requires ARRAY<STRING>, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    HashKernels.tfFilteredHashes(input.asInstanceOf[ArrayData], minTf, minKeep, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.tfFilteredHashes($c, $minTf, $minKeep, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): TfFilteredHashes =
    copy(child = newChild)
}

/** `MinHashSignature(hashes ARRAY<LONG>, numHashes, seed) -> ARRAY<LONG>`. */
case class MinHashSignature(child: Expression, numHashes: Int, seed: Long) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"MinHashSignature requires ARRAY<LONG>, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    HashKernels.minHashSig(input.asInstanceOf[ArrayData], numHashes, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.minHashSig($c, $numHashes, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** `MinHashBandKeys(sig ARRAY<LONG>, bands, rowsPerBand) -> ARRAY<LONG>`. */
case class MinHashBandKeys(child: Expression, bands: Int, rowsPerBand: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"MinHashBandKeys requires ARRAY<LONG>, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    HashKernels.bandKeys(input.asInstanceOf[ArrayData], bands, rowsPerBand)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.bandKeys($c, $bands, $rowsPerBand)")
  override protected def withNewChildInternal(newChild: Expression): MinHashBandKeys =
    copy(child = newChild)
}

/** `SimHash64(hashes ARRAY<LONG>, seed) -> LONG`. */
case class SimHash64(child: Expression, seed: Long) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"SimHash64 requires ARRAY<LONG>, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    HashKernels.simHash(input.asInstanceOf[ArrayData], seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.simHash($c, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/**
 * `SimHashBandKeys(fp LONG, segments, choose) -> ARRAY<LONG>` — guaranteed-
 * collision LSH keys at hamming radius `segments - choose` (see
 * HashKernels.simhashBandKeys).
 */
case class SimHashBandKeys(child: Expression, segments: Int, choose: Int) extends UnaryExpression {
  require(64 % segments == 0 && segments >= 2, s"segments must divide 64, got $segments")
  require(choose == 1 || choose == 2, s"choose must be 1 or 2, got $choose")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("SimHashBandKeys requires LONG")
  override def nullSafeEval(input: Any): Any =
    HashKernels.simhashBandKeys(input.asInstanceOf[Long], segments, choose)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.simhashBandKeys($c, $segments, $choose)")
  override protected def withNewChildInternal(newChild: Expression): SimHashBandKeys =
    copy(child = newChild)
}

/** `RollingFingerprint(text) -> LONG` (FNV-1a over UTF-16 chars). */
case class RollingFingerprint(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("RollingFingerprint requires STRING")
  override def nullSafeEval(input: Any): Any =
    HashKernels.rollingFingerprint(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.rollingFingerprint($c)")
  override protected def withNewChildInternal(newChild: Expression): RollingFingerprint =
    copy(child = newChild)
}

/** `HammingDist64(a LONG, b LONG) -> INT` — for SimHash near-dup radius. */
case class HammingDist64(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("HammingDist64 requires (LONG, LONG)")
  override def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.hammingDistance64(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"java.lang.Long.bitCount($a ^ $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): HammingDist64 =
    copy(left = l, right = r)
}
