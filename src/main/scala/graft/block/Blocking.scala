package graft.block

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.schema.Page

/**
 * Blocking stage (SURVEY.md §2.4 J1): replaces the reference's dense top-k
 * retrieval (`/root/reference/relik/retriever/indexers/inmemory.py:269-315`)
 * with the union of two complementary candidate generators:
 *
 *   1. MinHash-LSH band keys over hashed text tokens — catches near-duplicate
 *      and same-topic pages (the "retriever recall" knob: P(candidate) =
 *      1-(1-j^r)^b for token-Jaccard j).
 *   2. Mention-token keys over the normalized anchor mention — catches pages
 *      about the same entity under perturbed surface forms (shared last name
 *      token survives typos in other tokens).
 *
 * Pair generation is block-local and skew-aware (SURVEY.md §4.2):
 *   - blocks ≤ `maxBlock`: all C(n,2) pairs (bounded by cap²/2)
 *   - `maxBlock` < blocks ≤ `purgeLimit`: sorted-neighborhood within the
 *     block, each member paired with its next `snWindow` members in
 *     (mention, id) order: O(n·w) pairs instead of O(n²) — the hot-key path
 *   - blocks > `purgeLimit`: purged (boilerplate/stop-token blocks carry no
 *     linkage signal at web scale; SparkER-style block purging), counted in
 *     lineage.
 *
 * All decisions are data-driven from one thin block-size aggregation —
 * map-side combined, not a driver-side collect — which purges exactly
 * before any pair work; both branches then come from ONE keyed window
 * over the live block rows (`Dedup.blockPairs`).
 */
object Blocking {

  case class Config(
      minhashHashes: Int = 48,
      bands: Int = 12,
      rowsPerBand: Int = 4,
      seed: Long = 42L,
      maxBlock: Int = 64,       // full-pairs cap
      purgeLimit: Int = 100000, // drop blocks bigger than this
      snWindow: Int = 4,        // sorted-neighborhood width for hot blocks
      minMentionTokenLen: Int = 3,
      mentionMaxTokens: Int = 8, // anchor = first line TRUNCATED: a whole-doc
                                 // "first line" must not turn every body token
                                 // into a blocking key (measured 9k-member
                                 // mention blocks on single-line corpora)
      dfStopRatio: Double = 0.10, // drop tokens present in >10% of docs
      dfStopMax: Int = 100000,    // hard cap on the broadcast stop set
      minTf: Int = 2,             // MinHash only tokens repeated in-doc
      minTfKeep: Int = 8)         // fall back to all tokens below this

  object Config {
    /**
     * Background-collision budget: expected junk candidate pairs from LSH ≈
     * C(N,2) · bands · j_bg^rowsPerBand, where j_bg is the background
     * (different-entity) Jaccard after DF-stop + TF filtering (~0.03-0.06
     * on web text). The default (12×4) keeps junk ≈ 10-30 pairs/doc up to
     * ~10^6 docs; beyond that the quadratic term takes over and r must
     * grow. At 10^12 docs, r=8 pushes the per-pair collision rate to
     * ~10^-10 per band — junk stays sub-linear — while per-pair recall at
     * Jaccard 0.85 is 1-(1-0.85^8)^16 ≈ 0.96, and cluster-level recall
     * stays ≈1 through the mention-key union + transitive closure.
     */
    val webScale: Config = Config(
      minhashHashes = 128, bands = 16, rowsPerBand = 8,
      maxBlock = 32, purgeLimit = 1000000, snWindow = 4)
  }

  /**
   * Stage-1 features per page: normalized anchor mention (first extracted
   * line — the reference's doc_topic analog, `/root/reference/relik/
   * inference/data/window/manager.py:148-149`), hashed text tokens with
   * high-document-frequency tokens removed, MinHash signature.
   *
   * The DF-stop pass matters at web scale: boilerplate/stopword tokens
   * appear in (nearly) every page, inflate every pair's Jaccard by a
   * constant, and force LSH into either low recall or quadratic junk
   * blocks. Dropping tokens with df > `dfStopRatio` restores the Jaccard
   * contrast. This is the Catalyst analog of the reference's
   * special-symbols masking
   * (`/root/reference/relik/reader/data/relik_reader_data.py:264-269`).
   *
   * Scale shape: ONE map-side-combined aggregation computes both the
   * per-token document frequencies and the corpus size (a per-row sentinel
   * token rides the same explode, so no separate `count()` scan), and the
   * surviving stop set — provably ≤ avgTokensPerDoc / dfStopRatio entries
   * regardless of corpus size — is folded to a single array row and
   * broadcast-joined back. No `collect()` to the driver, no plan-embedded
   * literal (a 100k-long `typedLit` serialized with every task was the
   * round-1 shape).
   */
  def features(pages: Dataset[Page], cfg: Config = Config(),
               scope: Option[graft.ops.CacheScope] = None): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    // one text-kernel pass per page yields both hash sets; the struct is
    // referenced twice, so Catalyst keeps it in its own projection (a
    // non-cheap producer is never inlined into two consumers)
    val raw0 = pages.toDF().select(
      col("url"),
      array_join(slice(split(normalize_text(substring_index(col("text"), "\n", 1)), " "),
        1, cfg.mentionMaxTokens), " ").as("mention"),
      text_feature_hashes(col("text"), cfg.minTf, cfg.minTfKeep, cfg.seed).as("f"))
      .select(col("url"), col("mention"), col("f.tokenHashes"), col("f.freqHashes"))
    // normalize+tokenize+hash every page is the single heaviest map kernel;
    // the DF-stop branch consumes it twice (df aggregation + output), so
    // keep one materialization instead of re-running the kernel per consumer.
    // Registered with the caller's CacheScope when given, so the cache is
    // freed once the caller's output is materialized.
    //
    // LAZY persist (not the scope's eager default): the FIRST consumer is
    // dfStopSet's dfs aggregate, whose own eager materialization (inside
    // the same sequential features() call, before any fan-out exists)
    // builds this cache as a side effect, so the kernel runs once per page.
    // The build does NOT fuse with the df aggregation: AQE plans a cached
    // relation as its own query stage, so one job (`count at
    // Caches.scala`, the dfs cache's materializing count; no shuffle
    // write) builds this cache, and a second job runs the aggregate's
    // exchange over the cached blocks (`Inspect profile <corpus> er`).
    val raw = if (cfg.dfStopRatio < 1.0)
      scope.map(_.cacheLazy(raw0)).getOrElse(
        raw0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    else raw0

    val withStops = if (cfg.dfStopRatio < 1.0) {
      val stopArr = dfStopSet(raw, cfg, scope)
      // Wipeout guard: a doc whose post-stop feature set would fall below
      // `minTfKeep` keeps its UNstopped features instead (the same fallback
      // contract tfFilteredHashes applies to the TF filter). Without it,
      // boilerplate-dominated corpora (tiny shared vocabulary, e.g. short
      // template pages) get their entire feature set subtracted away: every
      // doc degenerates to an empty set → one sentinel signature → one
      // mega-block, and clone recall collapses to the sorted-neighborhood
      // window. freqHashes ⊆ tokenHashes in the unified hash domain, so one
      // condition on the freq survivors keeps both columns consistent.
      raw
        .crossJoin(broadcast(stopArr)) // BroadcastNestedLoopJoin of a 1-row build side
        .withColumn("freqClean", array_except($"freqHashes", $"stops"))
        .withColumn("keepAll", size($"freqClean") < cfg.minTfKeep)
        .withColumn("tokenHashes",
          when($"keepAll", $"tokenHashes").otherwise(array_except($"tokenHashes", $"stops")))
        .withColumn("freqHashes", when($"keepAll", $"freqHashes").otherwise($"freqClean"))
        .drop("stops", "freqClean", "keepAll")
    } else raw

    withStops
      .withColumn("sig", minhash_signature(col("freqHashes"), cfg.minhashHashes, cfg.seed))
      .drop("freqHashes")
  }

  /**
   * One-row DF-stop set — `(stops: sorted ARRAY<LONG>)` — over a
   * `tokenHashes` column of per-doc sorted-distinct token hashes.
   *
   * tokenHashes is sorted-distinct per doc, so counting occurrences of a
   * hash counts documents; the sentinel (impossible output of mix64-seeded
   * hashing in practice — collision would only add ±1 to the doc count)
   * rides the same explode once per row, making df(sentinel) the corpus
   * size — ONE map-side-combined aggregation, no separate `count()` scan.
   * The result is provably ≤ avgTokensPerDoc / dfStopRatio entries
   * regardless of corpus size (each doc contributes ≤ avgTokensPerDoc df
   * increments and a stop needs > nDocs·ratio of them), kept broadcastable
   * by the `dfStopMax` hard cap. Shared by the offline [[features]] pass
   * and by [[graft.streaming.EntityAssign]], which freezes this set at
   * store-build time so online scoring sees the corpus statistics the
   * store was minted with.
   */
  private[graft] def dfStopSet(tokenized: DataFrame, cfg: Config = Config(),
                               scope: Option[graft.ops.CacheScope] = None): DataFrame = {
    val sentinel = Long.MinValue
    // The (token, df) aggregate is consumed twice — once for the corpus
    // size (the sentinel row, broadcast below) and once for the stop
    // filter — and a broadcast build side executes its subtree separately,
    // so without this persist the full explode + aggregation over every
    // doc's token set ran TWICE per features() pass (guide §1.2: don't
    // recompute). The cached table is the distinct-token vocabulary with
    // two longs per row — bounded by corpus vocabulary, freed with the
    // caller's scope (or left to the fallback persist's scope-less
    // lifetime when called standalone, e.g. EntityAssign's one-shot store
    // build).
    val dfs0 = tokenized
      .select(explode(concat(col("tokenHashes"), array(lit(sentinel)))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("df"))
    val dfs = scope.map(_.cache(dfs0)).getOrElse(
      dfs0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val nDocs = dfs.filter(col("t") === sentinel).select(col("df").as("nDocs"))
    // Top-dfStopMax-by-df IN ROW: the candidate set is provably ≤
    // avgTokensPerDoc / dfStopRatio entries at ANY corpus size (see doc
    // above), so collecting (df, t) structs into one row is bounded, and
    // the global orderBy + limit the old shape used — a TakeOrdered
    // exchange plus a second single-partition aggregate, two extra AQE
    // stage rounds per features() pass — collapses into expression work.
    // Ties at the dfStopMax boundary become deterministic ((df, t) sort;
    // the old orderBy(df).limit() was tie-nondeterministic there).
    dfs
      .crossJoin(broadcast(nDocs))
      .filter(col("t") =!= sentinel && col("df") > col("nDocs") * cfg.dfStopRatio)
      .agg(sort_array(transform(
        slice(reverse(array_sort(collect_list(struct(col("df"), col("t"))))),
          1, cfg.dfStopMax),
        e => e.getField("t"))).as("stops")) // one row, ≤ dfStopMax longs
  }

  /**
   * Exploded blocking-key table: (key LONG, url, mention, sig). Key domains
   * are separated by construction (band keys are mixed with the band index;
   * mention-token keys are hashed with a distinct seed).
   */
  def blockKeys(features: DataFrame, cfg: Config = Config()): DataFrame = {
    val lshKeys = features.select(
      explode(minhash_band_keys(
        col("sig"), cfg.bands, cfg.rowsPerBand)).as("key"),
      col("url"), col("mention"))

    val mentionKeys = features.select(
      explode(token_ngram_hashes(
        filter(split(col("mention"), " "), t => length(t) >= cfg.minMentionTokenLen),
        1, cfg.seed ^ 0x6d656e74L)).as("key"),
      col("url"), col("mention"))

    lshKeys.unionByName(mentionKeys)
  }

  /**
   * Candidate pairs from blocks, deduped across keys: THIN (url_a, url_b)
   * rows only. Payloads deliberately do NOT flow through pair generation:
   * a document appears under ~b+|mention| keys, and every shared key can
   * re-emit a pair, so the pre-dedup stream is the largest dataset in the
   * whole pipeline — carrying signatures through it multiplies the shuffle
   * by the payload width (measured 4-5x wall-clock at 20k docs). Features
   * are joined back once per side AFTER dedup (`attachFeatures`), where the
   * feature table is broadcastable at test scale and an ordinary shuffle
   * join at web scale.
   */
  def candidatePairs(blocks: DataFrame, cfg: Config = Config()): DataFrame = {
    val spark = blocks.sparkSession
    import spark.implicits._

    // Pair generation is UNIFIED with `Dedup.blockPairs` — identical
    // small/hot/purge policy, one implementation: thin per-key stats
    // (a partial-aggregable `groupBy(key).agg(count)`, never a whole-group
    // count window) filtered to live blocks and joined back, an explicit-N
    // keyed exchange AQE cannot coalesce, then ONE window: a growing
    // collect_list frame gives a small block's rows their C(n,2) tails and
    // `lead` gives a hot block's rows their sorted-neighborhood successors,
    // O(snWindow) per row. The window's largest group is the largest live
    // block (≤ purgeLimit), as for the old sorted-neighborhood branch
    // (BASELINE.md lesson 5). The block order is (mention, id128(id)):
    // similar anchor mentions sit adjacently (the recall signal), and the
    // tiebreak is the id's 128-bit hash so url-keyed and
    // hash-keyed blocks visit hot-block neighbors in the IDENTICAL order —
    // ErPipeline.run keys on id128(url) already, while
    // ErPipeline.incremental folds a batch into url-keyed state; hashing
    // the tiebreak on string ids makes their pair sets equal by
    // construction, which `incremental ≡ full rebuild` relies on
    // (property-tested in ErPipelineSpec).
    val tiebreak: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      if (blocks.schema("url").dataType == org.apache.spark.sql.types.StringType) id128
      else identity
    // mention rides as the ROW sort key, never in the payload: the window's
    // tail frame copies the payload up to maxBlock times per member, and
    // only the ids are ever emitted (see Dedup.blockPairs' sortKey doc).
    graft.dedup.Dedup.blockPairs(
        blocks.select($"key", $"url".as("id"), $"mention"),
        struct($"id"), cfg.maxBlock, cfg.purgeLimit, cfg.snWindow,
        sortKey = Some(struct($"mention", tiebreak($"id"))))
      .select($"a.id".as("url_a"), $"b.id".as("url_b"))
      .dropDuplicates("url_a", "url_b") // A2 analog: dedup multiply-blocked pairs
  }

  /**
   * Incremental candidate pairs: blocks carry a `fresh` BOOLEAN column
   * (true = the row belongs to the arriving batch) and ONLY pairs touching
   * a fresh doc are generated, under the SAME small/hot/purge skew policy
   * as [[candidatePairs]] (via `Dedup.blockPairs`' delta mode). Blocks with
   * no fresh member — at a daily-increment ratio, nearly all of them — are
   * dropped at the thin per-key stats before any pair work, and hot blocks
   * pair each fresh doc with its ±snWindow mention-sorted neighbors instead
   * of cross-joining batch×block. The corpus side costs one block-key map
   * pass + the thin stats aggregate; it is never pair-joined against itself.
   */
  def deltaCandidatePairs(blocks: DataFrame, cfg: Config = Config()): DataFrame = {
    val spark = blocks.sparkSession
    import spark.implicits._
    val tiebreak: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      if (blocks.schema("url").dataType == org.apache.spark.sql.types.StringType) id128
      else identity
    // same thin-payload discipline as candidatePairs: mention is row-level
    // sort metadata; only (id, fresh) ride the pair stream
    graft.dedup.Dedup.blockPairs(
        blocks.select($"key", $"url".as("id"), $"mention", $"fresh"),
        struct($"id", $"fresh"), cfg.maxBlock, cfg.purgeLimit, cfg.snWindow,
        touching = Some(p => p.getField("fresh")),
        sortKey = Some(struct($"mention", tiebreak($"id"))))
      .select($"a.id".as("url_a"), $"b.id".as("url_b"))
      .dropDuplicates("url_a", "url_b")
  }

  /**
   * Attach both sides' scorer payloads to thin candidate pairs (one join
   * per side; Catalyst broadcasts the feature table when it fits).
   *
   * The per-side column aliases are applied ABOVE each join, not inside
   * the build side: aliasing below made the two broadcast subtrees
   * canonically different, so the same feature table was collected and
   * hashed twice per attach — with bare build sides, ReuseExchange ships
   * one broadcast for both joins (guide §2.4). Shuffle-join plans at
   * scale are unaffected (aliases are free either way).
   */
  def attachFeatures(pairs: DataFrame, features: DataFrame): DataFrame = {
    val fa = features.as("gf_a")
    val fb = features.as("gf_b")
    pairs
      .join(fa, col("url_a") === col("gf_a.url"))
      .join(fb, col("url_b") === col("gf_b.url"))
      .select(pairs.columns.map(c => col(s"`$c`")) ++ Seq(
        col("gf_a.mention").as("mention_a"), col("gf_a.sig").as("sig_a"),
        col("gf_b.mention").as("mention_b"), col("gf_b.sig").as("sig_b")): _*)
  }

  /** Block-size histogram for lineage / skew monitoring (A5 analog). */
  def blockStats(blocks: DataFrame): DataFrame = {
    blocks.groupBy("key").count()
      .agg(
        count(lit(1)).as("n_blocks"),
        max("count").as("max_block"),
        expr("percentile_approx(count, 0.99)").as("p99_block"),
        sum(expr("count * (count - 1) / 2")).as("naive_pairs"))
  }
}
