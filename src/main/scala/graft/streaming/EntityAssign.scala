package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.block.Blocking
import graft.functions.GraftFunctions._
import graft.score.PairScorer

/**
 * Online entity assignment — the streaming face of the ER pipeline.
 *
 * The reference's interactive entry point routes ONE document at a time
 * against a FIXED candidate index
 * (`/root/reference/relik/inference/annotator.py:250`: `__call__` —
 * retrieve → read → link against a prebuilt retriever index); the batch
 * analog here
 * is `ErPipeline` minting clusters offline. This operator is the online
 * half: route each ARRIVING page to its best existing canonical cluster,
 * or flag it novel — the production shape for keeping an entity store
 * current between offline rebuilds.
 *
 * Corpus statistics are FROZEN AT BUILD TIME: the DF-stop set the offline
 * pipeline blocks with is minted once per rebuild ([[buildCanonical]]) and
 * shipped with the store, and BOTH the canonical reps and every arriving
 * page subtract that same frozen set before signing. The reference does
 * the analogous thing — its retriever index carries the vocabulary
 * statistics of the corpus it was built from, and queries embed against
 * them, not against the query stream's own statistics. Recomputing stops
 * per micro-batch would make signatures drift with batch composition;
 * skipping stops entirely (round-5 lesson, AssignRehearsal at 600k docs)
 * leaves high-DF glue vocabulary in every signature, same-entity
 * NEW-page-vs-rep jaccard collapses to ~0.3 under the 0.35 content gate,
 * and 85% of known-entity arrivals mis-route to NOVEL. Identical text
 * still yields identical signatures on both sides: the subtraction is the
 * same pure function of (text, frozen stops).
 *
 * Scale shape (100 TB story):
 *  - the canonical side is one row per CLUSTER, not per document —
 *    broadcastable up to the session's broadcast ceiling, an ordinary
 *    key-equi shuffle join beyond it;
 *  - the frozen stop set is one row of ≤ `dfStopMax` longs, attached to
 *    the stream by a stream-static broadcast equi-join on a constant —
 *    never recomputed after build;
 *  - the stream side carries NO cross-batch state: no watermark store, no
 *    stream-stream join — each micro-batch blocks, scores and argmaxes
 *    independently, so cost tracks batch volume, not stream history. The
 *    only state is the final per-url aggregation within a query run.
 *  - candidate (page, cluster) rows arriving under several shared block
 *    keys are deliberately NOT pre-deduped: rescoring a duplicate is
 *    idempotent under max_by, while a streaming dropDuplicates would grow
 *    state with the stream.
 *
 * Batch/stream parity: [[assignPrepared]] takes either a `spark.read` or a
 * `spark.readStream` DataFrame of (url, text) — same plan, tested for
 * equality in EntityAssignSpec (stream replay).
 */
object EntityAssign {

  /** `hotKeyLimit`: canonical-side keys matching more clusters than this
    * are dropped at canonical-prepare time — a key shared by thousands of
    * clusters (a stop-word mention token, a band bucket of a giant
    * template family) is non-discriminative, and joining it would emit
    * |stream| × |bucket| candidate rows per micro-batch (measured: the
    * unpruned join at 5k docs ground 373 s on first-line stop tokens).
    * Same policy family as the offline pipeline's DF-stop + purge branch. */
  case class Config(block: Blocking.Config = Blocking.Config(),
                    score: PairScorer.Config = PairScorer.Config(),
                    hotKeyLimit: Int = 1024)

  /** The once-per-rebuild store artifact: one featurized rep row per
    * cluster `(cluster_id, mention, sig)` plus the frozen one-row DF-stop
    * set `(stops)` the reps were signed with. */
  final case class CanonicalStore(reps: DataFrame, stops: DataFrame)

  /** [[CanonicalStore]] after key explosion + hot-key pruning — the static
    * side a long-running stream joins every micro-batch. `persist()` both
    * members (the static subtree of a streaming query re-executes per
    * batch otherwise). */
  final case class PreparedStore(keyed: DataFrame, stops: DataFrame) {
    def persist(): PreparedStore = { keyed.persist(); stops.persist(); this }
    def unpersist(): PreparedStore = { keyed.unpersist(); stops.unpersist(); this }
  }

  /** Frozen corpus statistics: the DF-stop set over the CANONICAL corpus
    * (the same one-pass aggregation the offline blocker uses,
    * [[Blocking.dfStopSet]]). One row, ≤ `dfStopMax` longs. */
  def corpusStops(pages: DataFrame, cfg: Blocking.Config = Blocking.Config()): DataFrame = {
    if (cfg.dfStopRatio >= 1.0)
      pages.sparkSession.range(1).select(typedLit(Array.empty[Long]).as("stops"))
    else
      Blocking.dfStopSet(
        pages.select(text_ngram_hashes(col("text"), 1, cfg.seed).as("tokenHashes")), cfg)
  }

  /**
   * The streamable subset of [[Blocking.features]]: pure expressions over
   * the page plus one broadcast equi-join against the FROZEN one-row stop
   * set (an inner join on a constant, not a crossJoin — stream-static
   * cross joins are rejected by the streaming planner). Subtraction
   * carries the offline pass's wipeout guard: a page whose post-stop
   * feature set falls below `minTfKeep` signs its unstopped features
   * instead, so boilerplate-only corpora degrade exactly like the offline
   * path (`Blocking.features` guard) instead of collapsing to a sentinel
   * signature.
   */
  def pageFeatures(pages: DataFrame, stops: DataFrame,
                   cfg: Blocking.Config = Blocking.Config()): DataFrame = {
    pages.select(
        col("url"),
        array_join(slice(split(normalize_text(substring_index(col("text"), "\n", 1)), " "),
          1, cfg.mentionMaxTokens), " ").as("mention"),
        text_feature_hashes(col("text"), cfg.minTf, cfg.minTfKeep, cfg.seed)
          .getField("freqHashes").as("freqHashes"))
      .withColumn("__one", lit(1))
      .join(broadcast(stops.withColumn("__one", lit(1))), "__one")
      .withColumn("freqClean", array_except(col("freqHashes"), col("stops")))
      .select(
        col("url"), col("mention"),
        minhash_signature(
          when(size(col("freqClean")) < cfg.minTfKeep, col("freqHashes"))
            .otherwise(col("freqClean")),
          cfg.minhashHashes, cfg.seed).as("sig"))
  }

  /**
   * Mint the store the online path serves: freeze the corpus stop set,
   * then featurize ONE deterministic representative (min url) per cluster
   * with it. Only the rep pages run the tokenize/sign kernel — the corpus
   * scan for stops is a separate count-shaped aggregation. `clusters` is
   * the offline output shape: (url, cluster_id).
   */
  def buildCanonical(pages: DataFrame, clusters: DataFrame,
                     cfg: Blocking.Config = Blocking.Config()): CanonicalStore = {
    val stops = corpusStops(pages, cfg)
    val reps = clusters.groupBy(col("cluster_id")).agg(min(col("url")).as("url"))
    val repFeats = pageFeatures(pages.join(reps.select(col("url")), "url"), stops, cfg)
      .join(reps, "url")
      .select(col("cluster_id"), col("mention"), col("sig"))
    CanonicalStore(repFeats, stops)
  }

  /** Blocking keys with the feature payload kept on the row (the batch
    * path's `Blocking.blockKeys` drops `sig` because its pairs re-join
    * features after dedup; the online path scores straight off the join,
    * so the payload rides along). `explode_outer` keeps key-less pages
    * (empty mention and degenerate signature) alive so they surface as
    * NOVEL instead of vanishing. */
  private def keyed(feats: DataFrame, cfg: Blocking.Config): DataFrame = {
    val lsh = feats.select(col("*"),
      explode_outer(minhash_band_keys(col("sig"), cfg.bands, cfg.rowsPerBand)).as("key"))
    val men = feats.select(col("*"),
      explode_outer(token_ngram_hashes(
        filter(split(col("mention"), " "), t => length(t) >= cfg.minMentionTokenLen),
        1, cfg.seed ^ 0x6d656e74L)).as("key"))
    lsh.unionByName(men)
  }

  /**
   * Offline half of the online join: explode the canonical store to its
   * blocking keys and drop hot (non-discriminative) ones. The static
   * subtree of a streaming query re-executes every micro-batch, so
   * long-running streams should `.persist()` this result and pass it to
   * [[assignPrepared]]; [[assign]] calls it inline for one-shot use.
   */
  def prepareCanonical(store: CanonicalStore, cfg: Config = Config()): PreparedStore = {
    val cAll = keyed(store.reps, cfg.block)
      .filter(col("key").isNotNull) // null keys can never equi-join
      .select(col("key"), col("cluster_id"),
        col("mention").as("c_mention"), col("sig").as("c_sig"))
    val keyCounts = cAll.groupBy(col("key"))
      .agg(count(lit(1)).as("key_n"))
      .filter(col("key_n") <= cfg.hotKeyLimit)
      .select(col("key"))
    PreparedStore(cAll.join(keyCounts, "key"), store.stops)
  }

  def assign(pages: DataFrame, store: CanonicalStore, cfg: Config = Config()): DataFrame =
    assignPrepared(pages, prepareCanonical(store, cfg), cfg)

  /**
   * Assign each page to its best canonical cluster passing the conjunctive
   * gate ([[PairScorer.scoreColumns]] — the SAME gate the offline pipeline
   * edges through). Output: (url, cluster_id, score); cluster_id NULL
   * means NOVEL. Ties break to the greater cluster_id, deterministically.
   *
   * Streaming: stream-static left join + update-mode aggregation — run
   * with `.outputMode("update")`; each page's row finalizes when its
   * micro-batch completes (all of a page's candidates arrive in its own
   * batch, so one update per page). Pass a persisted [[prepareCanonical]]
   * result — the production shape for long-running streams.
   */
  def assignPrepared(pages: DataFrame, prepared: PreparedStore,
                     cfg: Config = Config()): DataFrame = {
    val sKeys = keyed(pageFeatures(pages, prepared.stops, cfg.block), cfg.block)
    val sc = PairScorer.scoreColumns(col("mention"), col("c_mention"),
      col("sig"), col("c_sig"), cfg.score)
    val ok = col("cluster_id").isNotNull && sc.accept
    sKeys.join(prepared.keyed, Seq("key"), "left_outer")
      .groupBy(col("url"))
      .agg(max_by(
          when(ok, struct(col("cluster_id"), sc.score.as("score"))),
          when(ok, struct(sc.score.as("score"), col("cluster_id")))).as("best"))
      .select(col("url"), col("best.cluster_id").as("cluster_id"),
        col("best.score").as("score"))
  }
}
