package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.ColumnBridge

/**
 * Column-API + SQL surface of the graft function library (SURVEY.md §2.9,
 * §2.11). Mirrors `org.apache.spark.sql.functions`: each custom Catalyst
 * expression gets a typed `Column` wrapper, plus optional SQL registration
 * so `spark.sql("SELECT jaro_winkler(a,b) ...")` works.
 */
object GraftFunctions {

  private def col(e: Expression): Column = ColumnBridge.column(e)
  private def expr(c: Column): Expression = ColumnBridge.expression(c)

  /** html BINARY -> extracted text (frozen, byte-identical per input). */
  def extract_text(html: Column): Column = col(ExtractText(expr(html)))

  /** NFD-fold + lowercase(ROOT) + alnum-collapse normalization. */
  def normalize_text(s: Column): Column = col(NormalizeText(expr(s)))

  /** Offset-preserving whitespace tokenizer: ARRAY<STRUCT<text,i,idx,idx_end>>. */
  def tokenize_offsets(s: Column): Column = col(TokenizeWithOffsets(expr(s)))

  /** Abbreviation-aware sentence split (P2); sentences partition the text. */
  def split_sentences(s: Column): Column = col(SplitSentences(expr(s)))

  def jaro_winkler(a: Column, b: Column): Column = col(JaroWinkler(expr(a), expr(b)))

  def levenshtein_sim(a: Column, b: Column): Column = col(LevenshteinSim(expr(a), expr(b)))

  def char_shingle_hashes(text: Column, k: Int, seed: Long = 42L): Column =
    col(CharShingleHashes(expr(text), k, seed))

  def token_ngram_hashes(tokens: Column, n: Int, seed: Long = 42L): Column =
    col(TokenNgramHashes(expr(tokens), n, seed))

  /** Positional (in-order, duplicates kept) twin of [[token_ngram_hashes]]. */
  def token_ngram_hash_seq(tokens: Column, n: Int, seed: Long = 42L): Column =
    col(TokenNgramHashSeq(expr(tokens), n, seed))

  def tf_filtered_hashes(tokens: Column, minTf: Int = 2, minKeep: Int = 8, seed: Long = 42L): Column =
    col(TfFilteredHashes(expr(tokens), minTf, minKeep, seed))

  /** One-pass ≡ `token_ngram_hashes(split(normalize_text(text), " "), n, seed)`. */
  def text_ngram_hashes(text: Column, n: Int, seed: Long = 42L): Column =
    col(TextNgramHashes(expr(text), n, seed))

  /** One-pass ≡ `token_ngram_hash_seq(split(normalize_text(text), " "), n, seed)`. */
  def text_ngram_hash_seq(text: Column, n: Int, seed: Long = 42L): Column =
    col(TextNgramHashSeq(expr(text), n, seed))

  /** One-pass `STRUCT<tokenHashes, freqHashes>` ≡ `token_ngram_hashes(toks, 1,
    * seed)` and `tf_filtered_hashes(toks, minTf, minKeep, seed)` over
    * `toks = split(normalize_text(text), " ")`, tokens hashed once. */
  def text_feature_hashes(text: Column, minTf: Int = 2, minKeep: Int = 8, seed: Long = 42L): Column =
    col(TextFeatureHashes(expr(text), minTf, minKeep, seed))

  def minhash_signature(hashes: Column, numHashes: Int, seed: Long = 42L): Column =
    col(MinHashSignature(expr(hashes), numHashes, seed))

  def minhash_band_keys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    col(MinHashBandKeys(expr(sig), bands, rowsPerBand))

  def simhash64(hashes: Column, seed: Long = 42L): Column = col(SimHash64(expr(hashes), seed))

  def simhash_band_keys(fp: Column, segments: Int, choose: Int): Column =
    col(SimHashBandKeys(expr(fp), segments, choose))

  def rolling_fingerprint(text: Column): Column = col(RollingFingerprint(expr(text)))

  def hamming_dist64(a: Column, b: Column): Column = col(HammingDist64(expr(a), expr(b)))

  def minhash_overlap(a: Column, b: Column): Column = col(MinHashOverlap(expr(a), expr(b)))

  def jaccard_sorted(a: Column, b: Column): Column = col(JaccardSorted(expr(a), expr(b)))

  def cosine_sim(a: Column, b: Column): Column = col(CosineSim(expr(a), expr(b)))

  def dot_product(a: Column, b: Column): Column = col(DotProduct(expr(a), expr(b)))

  def srp_band_keys(vec: Column, bands: Int, bits: Int, seed: Long = 42L): Column =
    col(SrpBandKeys(expr(vec), bands, bits, seed))

  /** 128-bit identity key: two independently-seeded xxhash64 lanes packed
    * as STRUCT<h1:BIGINT,h2:BIGINT> — a 16-byte, codegen'd, orderable
    * shuffle key. A single 64-bit lane is NOT identity at web scale
    * (C(n,2)/2^64 ≈ 2.7·10^4 expected false merges at 10^12 rows); two
    * lanes push that to ~10^-15 corpus-wide. xxhash64 mixes its column
    * list, so the distinct literal lane salt yields an independent hash.
    * Used as the content key by the dedup tier and as the node id by the
    * ER hot path (urls mapped in once, restored once at output). */
  def id128(c: Column): Column = {
    import org.apache.spark.sql.{functions => F}
    F.struct(F.xxhash64(c).as("h1"),
      F.xxhash64(F.lit(0x9e3779b97f4a7c15L), c).as("h2"))
  }

  private def int(e: Expression): Int = e.eval(InternalRow.empty).toString.toInt
  private def long(e: Expression): Long = e.eval(InternalRow.empty).toString.toLong
  /** Optional trailing seed argument at position `i`. */
  private def seed(es: Seq[Expression], i: Int): Long = if (es.length > i) long(es(i)) else 42L

  /** Every SQL-facing function, once: name → builder over the call's
    * argument expressions (size and seed arguments must be foldable).
    * [[register]] and `graft.plans.GraftExtensions` both install this list. */
  private[graft] val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "extract_text" -> (es => ExtractText(es.head)),
    "normalize_text" -> (es => NormalizeText(es.head)),
    "jaro_winkler" -> (es => JaroWinkler(es(0), es(1))),
    "levenshtein_sim" -> (es => LevenshteinSim(es(0), es(1))),
    "char_shingle_hashes" -> (es => CharShingleHashes(es(0), int(es(1)), seed(es, 2))),
    "token_ngram_hashes" -> (es => TokenNgramHashes(es(0), int(es(1)), seed(es, 2))),
    "token_ngram_hash_seq" -> (es => TokenNgramHashSeq(es(0), int(es(1)), seed(es, 2))),
    "tf_filtered_hashes" -> (es => TfFilteredHashes(es(0), int(es(1)), int(es(2)), seed(es, 3))),
    "text_ngram_hashes" -> (es => TextNgramHashes(es(0), int(es(1)), seed(es, 2))),
    "text_ngram_hash_seq" -> (es => TextNgramHashSeq(es(0), int(es(1)), seed(es, 2))),
    "text_feature_hashes" -> (es => TextFeatureHashes(es(0), int(es(1)), int(es(2)), seed(es, 3))),
    "minhash_signature" -> (es => MinHashSignature(es(0), int(es(1)), seed(es, 2))),
    "minhash_band_keys" -> (es => MinHashBandKeys(es(0), int(es(1)), int(es(2)))),
    "minhash_overlap" -> (es => MinHashOverlap(es(0), es(1))),
    "jaccard_sorted" -> (es => JaccardSorted(es(0), es(1))),
    "simhash64" -> (es => SimHash64(es(0), seed(es, 1))),
    "simhash_band_keys" -> (es => SimHashBandKeys(es(0), int(es(1)), int(es(2)))),
    "rolling_fingerprint" -> (es => RollingFingerprint(es.head)),
    "hamming_dist64" -> (es => HammingDist64(es(0), es(1))),
    "cosine_sim" -> (es => CosineSim(es(0), es(1))),
    "dot_product" -> (es => DotProduct(es(0), es(1))),
    "srp_band_keys" -> (es => SrpBandKeys(es(0), int(es(1)), int(es(2)), seed(es, 3))),
    "tokenize_offsets" -> (es => TokenizeWithOffsets(es.head)),
    "split_sentences" -> (es => SplitSentences(es.head)))

  /** Register the SQL-facing functions on a session (idempotent). */
  def register(spark: SparkSession): Unit =
    sqlFunctions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "built-in")
    }
}
