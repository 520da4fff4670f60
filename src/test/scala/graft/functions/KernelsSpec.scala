package graft.functions

import java.text.Normalizer

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

class KernelsSpec extends AnyFunSuite {

  /** Minimal property runner (scalatestplus bridge not in the offline cache). */
  private def check(p: Prop, runs: Int = 200): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(runs), p)
    assert(res.passed, res.status.toString)
  }

  // --- Jaro-Winkler against the standard published vectors -------------
  test("jaro-winkler known vectors") {
    def jw(a: String, b: String) = StringSimKernels.jaroWinkler(a, b)
    assert(math.abs(jw("MARTHA", "MARHTA") - 0.9611) < 1e-3)
    assert(math.abs(jw("DIXON", "DICKSONX") - 0.8133) < 1e-3)
    assert(math.abs(jw("DWAYNE", "DUANE") - 0.84) < 1e-2)
    assert(jw("abc", "abc") == 1.0)
    assert(jw("", "") == 1.0)
    assert(jw("abc", "") == 0.0)
    assert(jw("abc", "xyz") == 0.0)
  }

  test("jaro symmetric + bounded (property)") {
    val gs = Gen.alphaStr.map(_.take(20))
    check(Prop.forAll(gs, gs) { (a: String, b: String) =>
      val s = StringSimKernels.jaroWinkler(a, b)
      s >= 0.0 && s <= 1.0 && math.abs(s - StringSimKernels.jaroWinkler(b, a)) < 1e-12
    })
  }

  test("jaroWinklerU ASCII byte path == String path (property, incl. non-ASCII fallback)") {
    // the codegen entry point takes UTF8String and fast-paths pure-ASCII
    // inputs over raw bytes; it must be bit-identical to the String kernel
    // for ANY input — non-ASCII pairs exercise the fallback branch
    val ascii = Gen.alphaNumStr.map(_.take(24))
    val mixed = Gen.oneOf(ascii, ascii.map(s => "é" + s + "ß"), ascii.map("žluť" + _))
    check(Prop.forAll(mixed, mixed) { (a: String, b: String) =>
      val u = StringSimKernels.jaroWinklerU(
        UTF8String.fromString(a), UTF8String.fromString(b))
      u == StringSimKernels.jaroWinkler(a, b)
    })
  }

  test("normalize: diacritics, case, punctuation") {
    assert(StringSimKernels.normalize("José  O'Neill-Smith") == "jose o neill smith")
    assert(StringSimKernels.normalize("  ÁBC  123 ") == "abc 123")
    assert(StringSimKernels.normalize("") == "")
  }

  // --- one-pass text kernel ≡ split(normalize_text(text), " ") + array kernels

  /** The whole-string normalization the byte kernel replaced: NFD of the
    * full text, then the per-char rules. Kept as the oracle. */
  private def wholeStringNormalize(s: String): String = {
    val nfd = Normalizer.normalize(s, Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(nfd.length)
    var pendingSpace = false
    var i = 0
    while (i < nfd.length) {
      val c = nfd.charAt(i)
      if (Character.getType(c) != Character.NON_SPACING_MARK) {
        if (Character.isLetterOrDigit(c)) {
          if (pendingSpace && sb.length > 0) sb.append(' ')
          pendingSpace = false
          sb.append(Character.toLowerCase(c))
        } else pendingSpace = true
      }
      i += 1
    }
    sb.toString
  }

  /** `split(normalize_text(text), " ")` through the oracle normalization
    * and Spark's own split (so `""` splits to one empty token). */
  private def oracleTokens(text: UTF8String): ArrayData = new GenericArrayData(
    UTF8String.fromString(wholeStringNormalize(text.toString))
      .split(UTF8String.fromString(" "), -1).toArray[Any])

  private def longs(a: ArrayData): Seq[Long] = a.toLongArray().toSeq

  private val textChar: Gen[Char] = Gen.frequency(
    6 -> Gen.choose(0x20, 0x7e).map(_.toChar),           // printable ASCII
    2 -> Gen.oneOf(' ', ' ', '-', '\n', '\t', '\'', '.'), // separators
    3 -> Gen.choose(0x00c0, 0x024f).map(_.toChar),       // precomposed Latin
    2 -> Gen.choose(0x0300, 0x036f).map(_.toChar),       // combining marks
    2 -> Gen.choose(0x0000, 0xffff).map(_.toChar))       // any BMP unit, lone surrogates too
  private val mixedText: Gen[String] =
    Gen.choose(0, 60).flatMap(n => Gen.listOfN(n, textChar)).map(_.mkString)
  /** Raw bytes, valid UTF-8 or not: ASCII, UTF-8 of the chars above, and
    * arbitrary bytes (stray continuations, truncated leads, overlongs). */
  private val mixedBytes: Gen[Array[Byte]] = {
    val piece: Gen[Seq[Byte]] = Gen.frequency(
      3 -> Gen.choose(0x20, 0x7e).map(b => Seq(b.toByte)),
      3 -> textChar.map(c => c.toString.getBytes("UTF-8").toSeq),
      2 -> Gen.choose(0x80, 0xff).map(b => Seq(b.toByte)),
      1 -> Gen.choose(Byte.MinValue, Byte.MaxValue).map(Seq(_)))
    Gen.choose(0, 60).flatMap(n => Gen.listOfN(n, piece)).map(_.flatten.toArray)
  }

  private val seed = 42L

  /** Every fused kernel equals its composition over `text`. */
  private def fusedMatches(text: UTF8String): Boolean = {
    val toks = oracleTokens(text)
    val norm = StringSimKernels.normalizeU(text) ==
      UTF8String.fromString(wholeStringNormalize(text.toString))
    val grams = Seq(1, 2, 3, 13).forall { n =>
      longs(TextKernels.ngramHashes(text, n, seed)) == longs(HashKernels.tokenNgrams(toks, n, seed)) &&
      longs(TextKernels.ngramHashSeq(text, n, seed)) == longs(HashKernels.tokenNgramSeq(toks, n, seed))
    }
    norm && grams
  }

  test("normalize: byte kernel == whole-string NFD path (property, incl. lone surrogates)") {
    check(Prop.forAll(mixedText) { (s: String) =>
      StringSimKernels.normalize(s) == wholeStringNormalize(s)
    }, runs = 2000)
  }

  test("text kernels == split(normalize_text) composition on mixed text (property)") {
    check(Prop.forAll(mixedText) { (s: String) => fusedMatches(UTF8String.fromString(s)) },
      runs = 2000)
  }

  test("text kernels == composition on raw bytes, incl. invalid UTF-8 (property)") {
    check(Prop.forAll(mixedBytes) { (b: Array[Byte]) => fusedMatches(UTF8String.fromBytes(b)) },
      runs = 2000)
  }

  test("text_feature_hashes == (token_ngram_hashes n=1, tf_filtered_hashes) at minKeep edges") {
    check(Prop.forAll(mixedText, Gen.choose(1, 3)) { (s: String, minTf: Int) =>
      // repeat words so the TF filter has survivors to count
      val text = UTF8String.fromString(s + " " + s.take(s.length / 2))
      val toks = oracleTokens(text)
      val distinct = longs(HashKernels.tokenNgrams(toks, 1, seed))
      val nFrequent = longs(HashKernels.tfFilteredHashes(toks, minTf, 0, seed)).length
      Seq(0, 1, nFrequent - 1, nFrequent, nFrequent + 1, Int.MaxValue).forall { minKeep =>
        val row = TextKernels.featureHashes(text, minTf, minKeep, seed)
        longs(row.getArray(0)) == distinct &&
          longs(row.getArray(1)) == longs(HashKernels.tfFilteredHashes(toks, minTf, minKeep, seed))
      }
    }, runs = 1000)
  }

  test("empty and separator-only text hash exactly one empty token") {
    val empty = HashKernels.tokenNgrams(
      new GenericArrayData(Array[Any](UTF8String.EMPTY_UTF8)), 1, seed).toLongArray()
    for (s <- Seq("", " ", "  -- \n\t ", "\u0301\u0300", "\u2014 \u00a7")) {
      val u = UTF8String.fromString(s)
      assert(StringSimKernels.normalizeU(u) == UTF8String.EMPTY_UTF8, s)
      for (n <- Seq(1, 2, 3, 13)) {
        assert(longs(TextKernels.ngramHashes(u, n, seed)).length == 1, s"n=$n '$s'")
        assert(TextKernels.ngramHashSeq(u, n, seed).numElements() == (if (n == 1) 1 else 0))
      }
      assert(longs(TextKernels.ngramHashes(u, 1, seed)) == empty.toSeq)
      val row = TextKernels.featureHashes(u, 2, 8, seed)
      assert(longs(row.getArray(0)) == empty.toSeq && longs(row.getArray(1)) == empty.toSeq)
    }
  }

  // --- MinHash: signature overlap estimates Jaccard (property) ---------
  test("minhash overlap ≈ jaccard") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 20) {
      val base = Array.fill(200)(rnd.nextLong())
      val shared = rnd.nextInt(180) + 10
      val a = base.take(shared) ++ Array.fill(200 - shared)(rnd.nextLong())
      val b = base.take(shared) ++ Array.fill(200 - shared)(rnd.nextLong())
      val trueJ = {
        val sa = a.toSet; val sb = b.toSet
        sa.intersect(sb).size.toDouble / sa.union(sb).size
      }
      val sigA = HashKernels.minHashSig(new GenericArrayData(a), 128, 42L)
      val sigB = HashKernels.minHashSig(new GenericArrayData(b), 128, 42L)
      val est = HashKernels.sigOverlap(sigA, sigB)
      assert(math.abs(est - trueJ) < 0.18, s"est=$est true=$trueJ")
    }
  }

  test("minhash determinism + band keys line up for identical sets") {
    val xs = new GenericArrayData(Array(1L, 5L, 9L, 42L))
    val s1 = HashKernels.minHashSig(xs, 32, 42L)
    val s2 = HashKernels.minHashSig(xs, 32, 42L)
    assert(s1.toLongArray().sameElements(s2.toLongArray()))
    val b1 = HashKernels.bandKeys(s1, 8, 4).toLongArray()
    val b2 = HashKernels.bandKeys(s2, 8, 4).toLongArray()
    assert(b1.sameElements(b2))
    assert(b1.distinct.length == 8) // band index folded in -> distinct keys
  }

  test("tokenNgramSeq: positional, duplicates kept, gram identity matches set variant") {
    def arr(ts: String*) = new GenericArrayData(ts.map(UTF8String.fromString).toArray[Any])
    def seq(ts: Seq[String], n: Int) =
      HashKernels.tokenNgramSeq(arr(ts: _*), n, 42L).toLongArray.toSeq
    // a doc shorter than n has NO windows (no whole-doc fallback)
    assert(seq(Seq("a", "b"), 3).isEmpty)
    // one hash per starting position, in order; repeated grams repeat
    val s = seq(Seq("x", "y", "x", "y", "x"), 2)
    assert(s.length == 4 && s(0) == s(2) && s(1) == s(3) && s(0) != s(1))
    // same per-gram chain as the sorted-distinct variant
    val set = HashKernels.tokenNgrams(arr("p", "q", "r", "s"), 2, 42L).toLongArray.toSet
    assert(seq(Seq("p", "q", "r", "s"), 2).toSet == set)
  }

  test("jaccardSorted exact on sorted arrays") {
    val a = new GenericArrayData(Array(1L, 2L, 3L, 4L))
    val b = new GenericArrayData(Array(3L, 4L, 5L, 6L))
    assert(HashKernels.jaccardSorted(a, b) == 2.0 / 6.0)
    assert(HashKernels.jaccardSorted(a, a) == 1.0)
  }

  test("simhash: similar multisets → small hamming distance") {
    val rnd = new scala.util.Random(3)
    val base = Array.fill(300)(rnd.nextLong())
    val a = base
    val b = base.take(285) ++ Array.fill(15)(rnd.nextLong())
    val c = Array.fill(300)(rnd.nextLong())
    val ha = HashKernels.simHash(new GenericArrayData(a), 42L)
    val hb = HashKernels.simHash(new GenericArrayData(b), 42L)
    val hc = HashKernels.simHash(new GenericArrayData(c), 42L)
    assert(HashKernels.hammingDistance64(ha, hb) < HashKernels.hammingDistance64(ha, hc))
    assert(HashKernels.hammingDistance64(ha, hb) <= 12)
  }

  test("cosine kernels") {
    def arr(xs: Float*) = new GenericArrayData(xs.toArray)
    assert(math.abs(VectorKernels.cosine(arr(1f, 0f), arr(1f, 0f)) - 1.0) < 1e-12)
    assert(math.abs(VectorKernels.cosine(arr(1f, 0f), arr(0f, 1f))) < 1e-12)
    assert(VectorKernels.cosine(arr(0f, 0f), arr(1f, 1f)) == 0.0)
    assert(math.abs(VectorKernels.dot(arr(1f, 2f, 3f), arr(4f, 5f, 6f)) - 32.0) < 1e-9)
  }

  test("levenshtein sim") {
    def lev(a: String, b: String) =
      StringSimKernels.levenshteinSim(UTF8String.fromString(a), UTF8String.fromString(b))
    assert(lev("kitten", "sitting") == 1.0 - 3.0 / 7.0)
    assert(lev("", "") == 1.0)
    assert(lev("a", "") == 0.0)
  }
}
