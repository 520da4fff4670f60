package graft.plans

import graft.SparkSpec
import graft.functions.GraftFunctions

/**
 * SQL surface: every graft expression callable from pure SQL. (The
 * spark.sql.extensions route — `GraftExtensions` — uses the same expression
 * builders; it can't be exercised in the shared-JVM test session because
 * `getOrCreate` ignores extensions once a session exists.)
 */
class ExtensionsSpec extends SparkSpec {

  test("SQL function registry exposes the expression library") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT
        |  jaro_winkler('martha', 'marhta') AS jw,
        |  levenshtein_sim('kitten', 'sitting') AS lev,
        |  normalize_text('José  O''Neill') AS norm,
        |  simhash64(token_ngram_hashes(array('a','b','c'), 1)) AS sh,
        |  hamming_dist64(7L, 1L) AS ham,
        |  minhash_overlap(minhash_signature(array(1L, 2L, 3L), 16),
        |                  minhash_signature(array(1L, 2L, 3L), 16)) AS mh,
        |  jaccard_sorted(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS jac,
        |  rolling_fingerprint('abc') = rolling_fingerprint('abc') AS fp_det,
        |  cosine_sim(array(cast(1.0 as float), cast(0.0 as float)),
        |             array(cast(1.0 as float), cast(0.0 as float))) AS cos,
        |  extract_text(cast('<p>hi &amp; bye</p>' as binary)) AS txt
        |""".stripMargin).collect()(0)
    assert(math.abs(r.getAs[Double]("jw") - 0.9611) < 1e-3)
    assert(math.abs(r.getAs[Double]("lev") - (1.0 - 3.0 / 7.0)) < 1e-12)
    assert(r.getAs[String]("norm") == "jose o neill")
    assert(r.getAs[Int]("ham") == 2)
    assert(r.getAs[Double]("mh") == 1.0)
    assert(r.getAs[Double]("jac") == 0.5)
    assert(r.getAs[Boolean]("fp_det"))
    assert(math.abs(r.getAs[Double]("cos") - 1.0) < 1e-12)
    assert(r.getAs[String]("txt") == "hi & bye")
  }

  test("SQL text_* kernels equal their split(normalize_text(...)) compositions") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT
        |  text_ngram_hashes(s, 2) = token_ngram_hashes(split(normalize_text(s), ' '), 2) AS ngrams,
        |  text_ngram_hash_seq(s, 2, 7) =
        |    token_ngram_hash_seq(split(normalize_text(s), ' '), 2, 7) AS seq,
        |  text_feature_hashes(s, 1, 2).tokenHashes =
        |    token_ngram_hashes(split(normalize_text(s), ' '), 1) AS tokens,
        |  text_feature_hashes(s, 1, 2).freqHashes =
        |    tf_filtered_hashes(split(normalize_text(s), ' '), 1, 2) AS freq,
        |  size(text_ngram_hashes(s, 2)) AS n
        |FROM VALUES ('José  O''Neill-Smith') AS t(s)
        |""".stripMargin).collect()(0)
    assert(r.getAs[Boolean]("ngrams") && r.getAs[Boolean]("seq"))
    assert(r.getAs[Boolean]("tokens") && r.getAs[Boolean]("freq"))
    assert(r.getAs[Int]("n") == 3) // jose o | o neill | neill smith
  }
}
