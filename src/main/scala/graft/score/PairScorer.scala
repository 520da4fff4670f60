package graft.score

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.functions.{HashKernels, StringSimKernels}
import graft.schema.MatchEdge

/**
 * Pairwise scorer (SURVEY.md §2.4 J8): replaces the reference's reader
 * forward pass over (window × candidate) batches (`/root/reference/relik/
 * reader/pytorch_modules/hf/modeling_relik.py:239-456`) with a weighted
 * record-linkage similarity, and its relation-threshold filter
 * (`modeling_relik.py:927-930`) with the edge threshold (F3).
 *
 * Two implementations with identical semantics:
 *   - `score`: pure codegen'd Catalyst expressions (JaroWinkler,
 *     LevenshteinSim, MinHashOverlap) — the default; stays inside a single
 *     WholeStageCodegen span, no shuffle (pairs already carry both payloads).
 *   - `scoreTyped`: a typed `mapPartitions` batch kernel — the reference's
 *     token-budget-batched scorer shape (`relik_reader_data.py:781-810`),
 *     kept for operators that need per-partition scratch state (e.g. model
 *     weights). Used by tests to cross-check the expression path.
 */
object PairScorer {

  /** Non-negative by contract: [[score]]'s bound gate replaces lev_sim by
    * its maximum 1.0 to get an upper bound of the score, which holds only
    * while every weight is ≥ 0. */
  case class Weights(jaro: Double = 0.3, lev: Double = 0.1, jaccard: Double = 0.6) {
    require(jaro >= 0 && lev >= 0 && jaccard >= 0,
      s"scorer weights must be non-negative, got jaro=$jaro lev=$lev jaccard=$jaccard")
  }

  /**
   * `threshold` gates the weighted score; `jaccardFloor` is a CONJUNCTIVE
   * content-evidence gate: name similarity alone must never make an edge.
   *
   * Why both (round-5 scale lesson, BASELINE.md): with ~16k distinct
   * first/last name combinations, corpora beyond ~10^5 entities guarantee
   * same-full-name DIFFERENT-entity collisions; their pairs score
   * jaro≈lev≈1 with low token jaccard — a weighted sum puts them at
   * ≈ w_jaro + w_lev + w_jac·j_bg ≈ 0.45-0.55, and ANY above-threshold
   * leak is amplified by transitive closure into cluster chaining
   * (measured at 600k docs with the old τ=0.5, no floor: 4,644 clusters
   * for ~120k entities, pairwise precision 0.69). Measured at 200k docs:
   * gold positives have jaccard p1 = 0.60 (true matches ALWAYS carry
   * shared content), impostors concentrate in score [0.5, 0.6) with
   * jaccard < 0.3 — τ=0.6 ∧ jaccard ≥ 0.35 keeps 99.0% of gold pairs
   * (the rest reconnect transitively; cluster recall 0.9996 at 600k)
   * and passes 1 of 376 candidate gold negatives.
   */
  case class Config(weights: Weights = Weights(), threshold: Double = 0.60,
                    jaccardFloor: Double = 0.35)

  /** The scorer's column bundle — see [[scoreColumns]]. `accept` is the
    * F3 edge gate: threshold AND conjunctive content floor. */
  case class ScoreColumns(jaro: org.apache.spark.sql.Column,
                          levSim: org.apache.spark.sql.Column,
                          jaccard: org.apache.spark.sql.Column,
                          score: org.apache.spark.sql.Column,
                          accept: org.apache.spark.sql.Column)

  /**
   * Expression form of the weighted score + conjunctive gate, the single
   * source of truth for every caller that embeds scoring inside a larger
   * plan (the batch pair scorer below, streaming entity assignment). Pure
   * codegen'd expressions — no shuffle, no UDF.
   */
  def scoreColumns(mentionA: org.apache.spark.sql.Column, mentionB: org.apache.spark.sql.Column,
                   sigA: org.apache.spark.sql.Column, sigB: org.apache.spark.sql.Column,
                   cfg: Config = Config()): ScoreColumns = {
    val jw = jaro_winkler(mentionA, mentionB)
    val lv = levenshtein_sim(mentionA, mentionB)
    val jc = minhash_overlap(sigA, sigB)
    val s = jw * cfg.weights.jaro + lv * cfg.weights.lev + jc * cfg.weights.jaccard
    ScoreColumns(jw, lv, jc, s, s >= cfg.threshold && jc >= cfg.jaccardFloor)
  }

  /**
   * Input: candidate pairs with payloads (url_a, url_b, mention_a,
   * mention_b, sig_a, sig_b). Output: above-threshold MatchEdge rows.
   */
  def score(pairs: DataFrame, cfg: Config = Config()): DataFrame = {
    val sc = scoreColumns(col("mention_a"), col("mention_b"),
      col("sig_a"), col("sig_b"), cfg)
    pairs
      .withColumn("jaro", sc.jaro)
      .withColumn("lev_sim", sc.levSim)
      .withColumn("jaccard", sc.jaccard)
      .withColumn("score",
        col("jaro") * cfg.weights.jaro +
        col("lev_sim") * cfg.weights.lev +
        col("jaccard") * cfg.weights.jaccard)
      // F3: conjunctive content floor FIRST, then the edge threshold.
      // Codegen evaluates And left-to-right and only computes the
      // projected columns for surviving rows, so leading with the cheap
      // minhash-overlap test (one 48-long array pass) short-circuits the
      // O(|m|²) Levenshtein + Jaro kernels for every pair the floor
      // rejects — the vast majority of the candidate stream (guide §1.2
      // per-task work: make the code inside the stage fast). Same
      // predicate, same edge set.
      //
      // The middle conjunct is the UPPER BOUND of the score with lev_sim
      // at its maximum 1.0: it is implied by `score >= threshold`, so the
      // filter accepts exactly the same rows — but on corpora where the
      // jaccard floor barely discriminates (template-heavy web text: 85%
      // of bench candidates pass the floor) it rejects pairs after the
      // jaro kernel alone, skipping the strictly costlier Levenshtein DP
      // for every pair that cannot reach the threshold even with a
      // perfect edit similarity.
      .filter(col("jaccard") >= cfg.jaccardFloor &&
        (col("jaro") * cfg.weights.jaro + lit(cfg.weights.lev) +
          col("jaccard") * cfg.weights.jaccard) >= cfg.threshold &&
        col("score") >= cfg.threshold)
      .select("url_a", "url_b", "jaro", "lev_sim", "jaccard", "score")
  }

  /** Typed row for the mapPartitions variant. */
  case class PairRow(
      url_a: String, url_b: String,
      mention_a: String, mention_b: String,
      sig_a: Array[Long], sig_b: Array[Long])

  /**
   * mapPartitions variant: batches a partition's rows and scores them with
   * the same kernels (per-partition scratch reuse; micro-batching mirrors
   * the reference's token-budget batching,
   * `/root/reference/relik/reader/data/relik_reader_data.py:781-810`).
   */
  def scoreTyped(pairs: Dataset[PairRow], cfg: Config = Config()): Dataset[MatchEdge] = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val w = cfg.weights
    val tau = cfg.threshold
    pairs.mapPartitions { it =>
      it.flatMap { p =>
        val jw = StringSimKernels.jaroWinkler(p.mention_a, p.mention_b)
        val lv = {
          val a = org.apache.spark.unsafe.types.UTF8String.fromString(p.mention_a)
          val b = org.apache.spark.unsafe.types.UTF8String.fromString(p.mention_b)
          StringSimKernels.levenshteinSim(a, b)
        }
        val jc = {
          val n = math.min(p.sig_a.length, p.sig_b.length)
          var eq = 0; var i = 0
          while (i < n) { if (p.sig_a(i) == p.sig_b(i)) eq += 1; i += 1 }
          if (n == 0) 0.0 else eq.toDouble / n
        }
        val s = jw * w.jaro + lv * w.lev + jc * w.jaccard
        if (s >= tau && jc >= cfg.jaccardFloor)
          Some(MatchEdge(p.url_a, p.url_b, jw, lv, jc, s))
        else None
      }
    }
  }
}
