package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, CreateNamedStruct}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._

import graft.cluster.ConnectedComponents
import graft.functions.GraftFunctions._

/**
 * Deduplication operators for large-scale training-data pipelines — exact,
 * MinHash-LSH, SimHash, n-gram Jaccard, embedding-cosine — each expressed as
 * declarative DataFrame plans (Catalyst prunes/pushes; one shuffle per
 * logical regroup).
 *
 * These generalize the ER blocking machinery (graft.block.Blocking) to the
 * "near-duplicate document removal" shape used when preparing web-scale
 * corpora: the reference dedups candidate sets exactly
 * (`/root/reference/relik/retriever/data/datasets.py:486-494`,
 * `dropDuplicates` analog F6 in SURVEY.md §2.3); the near-dup family is the
 * web-corpus extension.
 *
 * Pair generation follows the same scale rules as `Blocking.candidatePairs`:
 *  - THIN pairs: only ids (plus 8-byte fingerprints where the payload IS the
 *    verifier input) flow through pair generation; wide payloads (hash sets,
 *    embedding vectors) are joined back AFTER pair dedup. Carrying them
 *    through the pre-dedup stream measured 4-5× wall-clock (BASELINE.md).
 *  - three-branch skew policy per block size n:
 *      n ≤ maxBlock            all C(n,2) pairs (streamed, never nested)
 *      maxBlock < n ≤ purge    sorted-neighborhood: each member pairs with
 *                              its ±snWindow neighbors in block order —
 *                              O(n·w) pairs; an oversized exact-dup cluster
 *                              still CHAINS (adjacent members pair, and the
 *                              downstream connected components closes the
 *                              chain transitively), so big dup families are
 *                              not lost
 *      n > purgeLimit          purged (boilerplate blocks carry no signal);
 *                              no counter records a purge —
 *                              `Blocking.blockStats` reports block sizes
 *                              when a caller asks
 */
object Dedup {

  // ---------------------------------------------------------------- exact
  /** 128-bit content identity — see [[graft.functions.GraftFunctions.id128]]
    * for the collision math (a single 64-bit key false-merges ~2.7·10^4
    * times at 10^12 docs; two lanes push that to ~10^-15 corpus-wide). */
  private[graft] def contentKey128(c: Column): Column = id128(c)

  /**
   * Exact dedup by content hash: one hash-aggregate (map-side combined).
   * Returns (rep_id, n_dups) per distinct content value — rep_id is the
   * minimum id, deterministic under retries. `content_hash` is the 128-bit
   * (h1, h2) struct key.
   */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(contentKey128(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("n_dups"))

  /** Rows to keep after exact dedup (the representative of each group). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val reps = exactGroups(df, idCol, textCol).select(col("rep_id").as(idCol))
    df.join(reps, Seq(idCol), "left_semi")
  }

  /**
   * Incremental exact dedup: drop rows of `batch` (a crawl increment) whose
   * content already exists in a FROZEN `corpus` — the daily-operations shape
   * at 10^12 docs, where re-running [[exactDedup]] over corpus ∪ batch would
   * shuffle the world to answer a question about the increment.
   *
   * Scale shape — the corpus is scanned once and NEVER shuffled:
   *
   *  1. a Bloom filter is aggregated over the BATCH's `xxhash64(text)` probe
   *     keys (Catalyst's partial-aggregable `BloomFilterAggregate`: one
   *     per-partition bloom each, OR-merged — no row leaves its partition);
   *  2. the corpus scan is filtered by `BloomFilterMightContain(probe,
   *     scalar-subquery bloom)` — the same expression shape Spark's own
   *     `InjectRuntimeFilter` plants on shuffle-join sides, made explicit
   *     and explicitly SIZED (the auto-injection caps at the
   *     `runtime.bloomFilter.maxNumItems` conf and only fires inside a
   *     join); survivors ≈ |batch ∩ corpus| + fpp·|corpus| thin keys;
   *  3. those candidate keys alone are exact-anti-joined (128-bit content
   *     identity, [[contentKey128]]) against the batch, so Bloom false
   *     positives are eliminated and the OUTPUT IS EXACT — the filter
   *     affects bytes moved, never semantics. AQE broadcasts the candidate
   *     side when it fits.
   *
   * Sizing: bits = -n·ln(fpp)/ln²2 (optimal for n = `expectedBatchRows`).
   * fpp must be budgeted against the CORPUS (candidates include fpp·|corpus|
   * false keys): at a 10^8-row batch against 10^12 docs, fpp 1e-6 costs
   * ~330 MB of broadcast bloom and leaks ~10^6 false candidates — three
   * orders below the shuffle the bloom removes. NOTE Spark silently clamps
   * the aggregate at `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` /
   * `.maxNumBits` (4M / 67M-bit defaults) — raise those confs alongside
   * `expectedBatchRows`, or the realized fpp degrades (output stays exact
   * regardless; only step-2 pruning weakens).
   *
   * Null semantics: a null `textCol` never matches anything (anti-join on a
   * null key keeps the row), matching SQL `NOT EXISTS (… c.text = b.text)`.
   */
  def incrementalExact(batch: DataFrame, corpus: DataFrame,
                       idCol: String = "doc_id", textCol: String = "text",
                       expectedBatchRows: Long = 1000000L,
                       fpp: Double = 1e-4): DataFrame = {
    require(expectedBatchRows > 0, s"expectedBatchRows must be > 0, got $expectedBatchRows")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1), got $fpp")
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val ln2sq = math.log(2) * math.log(2)
    val nBits = math.max(64L,
      math.ceil(-expectedBatchRows.toDouble * math.log(fpp) / ln2sq).toLong)
    def probe = xxhash64(col(textCol)) // never null: nulls fold into the hash
    val bloom = batch.select(column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        expression(probe), expression(lit(expectedBatchRows)), expression(lit(nBits)))
        .toAggregateExpression()).as("bloom"))
    val mightBeInBatch = column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        expression(bloom.scalar()), expression(probe)))
    val candidateKeys = corpus
      .filter(mightBeInBatch)
      .select(contentKey128(col(textCol)).as("content_hash"))
      .distinct()
    batch
      .withColumn("content_hash", contentKey128(col(textCol)))
      .join(candidateKeys, Seq("content_hash"), "left_anti")
      .drop("content_hash")
  }

  // ---------------------------------------------------------- MinHash-LSH
  case class MinHashConfig(
      numHashes: Int = 48, bands: Int = 12, rowsPerBand: Int = 4,
      seed: Long = 42L, maxBlock: Int = 256, verifyJaccard: Double = 0.7,
      purgeLimit: Int = 1000000, snWindow: Int = 8)

  /**
   * MinHash-LSH near-duplicate PAIRS, two-tier (exact-dup families must not
   * enter LSH banding — on template-heavy web corpora hundreds of docs
   * share one token set, their shared signature floods every band bucket
   * past the skew caps, and the round-1 single-tier path lost most of the
   * family's pairs to the sorted-neighborhood fallback):
   *
   *  1. EXACT tier: block on the token-set identity itself (hash of the
   *     sorted-distinct hash array). All C(n,2) pairs for families ≤
   *     maxBlock (jaccard 1.0 by construction); bigger families chain via
   *     sorted neighborhood — closure-equivalent downstream.
   *  2. NEAR tier: signatures and band keys over DISTINCT token sets only
   *     (one row per set — also the cheapest place to compute MinHash),
   *     thin bucket pairs, hash sets joined back, exact-Jaccard verify.
   *     Each near pair is emitted once between family representatives
   *     (min id per set) — sparse but closure-equivalent to the full
   *     cross-family product.
   *
   * Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ verifyJaccard.
   */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          cfg: MinHashConfig = MinHashConfig()): DataFrame = {
    val scope = new graft.ops.CacheScope
    // 128-bit set identity (see contentKey128): hash equality IS the merge
    // decision for the exact tier, so a 64-bit key would false-merge at
    // 10^12-doc scale
    val feats = scope.cache(df.select(
        col(idCol).cast("string").as("id"),
        text_ngram_hashes(col(textCol), 1, cfg.seed).as("hashes"))
      .withColumn("setkey", contentKey128(col("hashes").cast("string"))))

    // tier 1: identical token sets — star pairs beyond maxBlock (O(n) per
    // family, direct pairing to the family rep; closure-equivalent)
    val (exactPairs0, setStats) = blockPairsWithStats(
        feats.select(col("setkey").as("key"), col("id")),
        struct(col("id")), cfg.maxBlock, Int.MaxValue, cfg.snWindow,
        oversizedStar = true)
    val exactPairs = exactPairs0
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), lit(1.0).as("jaccard"))

    // tier 2: banding over distinct sets, rep-level pairs, exact verify.
    // Threshold-aware prune: verifyJaccard ≥ 1.0 admits only equal token
    // sets, and equal sets share one setkey (the 128-bit hash of the
    // sorted-distinct hash array) — every qualifying pair is already in
    // tier 1, and every tier-2 candidate (distinct setkeys ⇒ distinct
    // sets) verifies to jaccard < 1.0. Skip banding/pair-gen/verify
    // entirely: "exact-set dedup through the MinHash API" should plan as
    // exact dedup, not as LSH whose every candidate is rejected.
    //
    // No pair dedup across (or after) the tiers: tier 1 is internally
    // unique (setkey groups are disjoint; C(n,2)/star emit each unordered
    // pair once) and tier-2 pairs are deduped thin BEFORE the verify join;
    // the tiers cannot overlap (tier 1 pairs have jaccard 1.0 between
    // same-set docs, tier 2 pairs connect reps of DISTINCT sets, and rep
    // id ↔ set is 1:1), so the old post-union dropDuplicates was a full
    // extra exchange of the combined pair set for zero removed rows
    // (guide §2.4: distinct on already-unique data).
    val pairs = if (cfg.verifyJaccard >= 1.0) exactPairs else {
      // reps from tier 1's per-key stats (min(struct(id)).id IS min(id);
      // one row per distinct setkey incl. singletons): ReuseExchange runs
      // the shared aggregate once for both tiers, where the old second
      // groupBy(setkey) — with a first(hashes) dragging the ~300-long hash
      // arrays through its own exchange — re-aggregated the same keys. The
      // rep's hash set is re-attached by an equi-join against the cached
      // feature table (rows of a setkey group carry identical arrays, so
      // any matching row is THE rep's array).
      val reps = scope.cache(setStats
        .select(col("key").as("setkey"), col("pmin.id").as("id"))
        .join(feats.select(col("setkey"), col("id"), col("hashes")), Seq("setkey", "id"))
        .withColumn("sig", minhash_signature(col("hashes"), cfg.numHashes, cfg.seed)))
      val blocks = reps.select(
        explode(minhash_band_keys(col("sig"), cfg.bands, cfg.rowsPerBand)).as("key"),
        col("id"))
      val thin = blockPairs(blocks, struct(col("id")), cfg.maxBlock,
          cfg.purgeLimit, cfg.snWindow)
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .dropDuplicates("id_a", "id_b")
      // bare build sides (aliases applied above the joins): the two
      // verify joins then broadcast ONE copy of the cached rep table via
      // ReuseExchange instead of collecting and hashing the ~300-long
      // hash arrays twice (see Blocking.attachFeatures)
      val ha = reps.as("mh_a")
      val hb = reps.as("mh_b")
      val nearPairs = thin
        .join(ha, col("id_a") === col("mh_a.id"))
        .join(hb, col("id_b") === col("mh_b.id"))
        .withColumn("jaccard", jaccard_sorted(col("mh_a.hashes"), col("mh_b.hashes")))
        .filter(col("jaccard") >= cfg.verifyJaccard) // distinct sets ⇒ jaccard < 1.0
        .select("id_a", "id_b", "jaccard")
      exactPairs.unionByName(nearPairs)
    }

    // materialize the (thin) pair output, then free the wide caches now
    // rather than at session end (the bench runs ~25 operators in one JVM)
    val out = pairs.localCheckpoint(eager = true)
    scope.close()
    out
  }

  /**
   * MinHash-LSH near-duplicate GROUPS: verified pairs closed transitively.
   * Returns (id, group_id); docs in no near-dup pair keep group_id = id.
   */
  def minhashNearDupGroups(df: DataFrame, idCol: String, textCol: String,
                           cfg: MinHashConfig = MinHashConfig()): DataFrame = {
    val edges = minhashNearDupPairs(df, idCol, textCol, cfg)
      .select(col("id_a").as("url_a"), col("id_b").as("url_b"))
    // pairs are canonical (id_a < id_b) and unique by construction — skip
    // CC's defensive distinct over the edge set
    ConnectedComponents.assignAll(
        df.select(col(idCol).cast("string").as("url")), edges,
        edgesCanonical = true)
      .select(col("url").as(idCol), col("cluster_id").as("group_id"))
  }

  // --------------------------------------------------------------- SimHash
  /**
   * `segments - choose` is the GUARANTEED collision radius of the banding
   * (Manku et al., WWW'07): it must cover `maxHamming`, else pairs inside
   * the verified radius are silently missed by construction (the round-1
   * 4×16-bit scheme verified d ≤ 6 but only guaranteed d ≤ 3).
   * Default 8 segments choose 2 → C(8,2)=28 keys of 16 bits, radius 6.
   */
  case class SimHashConfig(
      seed: Long = 42L, maxHamming: Int = 6, segments: Int = 8, choose: Int = 2,
      maxBlock: Int = 1024, purgeLimit: Int = 1000000, snWindow: Int = 8) {
    require(segments - choose >= maxHamming,
      s"banding radius ${segments - choose} < maxHamming $maxHamming: " +
        "pairs inside the verified radius would be missed by construction")
  }

  /**
   * SimHash near-dup pairs, two-tier (the shape real web dedup uses —
   * exact-dup families are huge and must not enter LSH banding):
   *
   *  1. EXACT tier: group by the 64-bit fingerprint itself. All C(n,2)
   *     pairs for groups ≤ maxBlock — a doc and its exact duplicate are
   *     DIRECTLY paired up to that size (the round-1 banding path lost
   *     clone pairs when an oversized bucket held >snWindow equal
   *     fingerprints). Bigger families emit STAR pairs (family min-id ×
   *     each member): O(n) rows, every member directly paired with the
   *     rep, transitively closure-equivalent to the full C(n,2) — direct
   *     a↔b pairing for non-rep members beyond maxBlock requires the
   *     downstream connected-components step.
   *  2. NEAR tier: banding keys (one explode over the C(segments, choose)
   *     combination keys — ONE scan + ONE shuffle) over DISTINCT
   *     fingerprints only, exact hamming verify BEFORE the pair-dedup
   *     shuffle, then each near fp-pair is emitted once as its two group
   *     representatives (min id per fingerprint) — sparse but closure-
   *     equivalent to the full cross product of both families.
   */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          cfg: SimHashConfig = SimHashConfig()): DataFrame = {
    val scope = new graft.ops.CacheScope
    val fp = scope.cache(df.select(
        col(idCol).cast("string").as("id"),
        simhash64(text_ngram_hashes(col(textCol), 1, cfg.seed), cfg.seed).as("fp")))

    // tier 1: identical fingerprints (hamming 0); star pairs beyond maxBlock
    val (exactPairs0, fpStats) = blockPairsWithStats(
        fp.select(col("fp").as("key"), col("id")),
        struct(col("id")), cfg.maxBlock, Int.MaxValue, cfg.snWindow,
        oversizedStar = true)
    val exactPairs = exactPairs0
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), lit(0).as("hamming"))

    // tier 2: banding over distinct fingerprints, rep-level pairs. Dedup
    // the multiply-banded pair ONCE here (a near fp-pair shares up to
    // C(segments-d, choose) band keys; every duplicate row carries the
    // identical fps, so first-row-wins is deterministic) — the tiers
    // themselves cannot overlap (tier 1 pairs share one fingerprint,
    // tier 2 connects reps of DISTINCT fingerprints, rep id ↔ fp is 1:1),
    // so the old post-union dropDuplicates re-shuffled the combined set
    // for zero removed rows (guide §2.4).
    // reps from tier 1's per-key stats: min(struct(id)).id IS min(id), the
    // stats frame has one row per distinct fp (singletons included), and
    // sharing the aggregate subtree lets ReuseExchange run it once for
    // both tiers instead of a second groupBy over the fingerprints
    val reps = fpStats.select(col("key").as("fp"), col("pmin.id").as("id"))
    val blocks = reps.select(
      explode(simhash_band_keys(col("fp"), cfg.segments, cfg.choose)).as("key"),
      col("id"), col("fp"))
    val nearPairs = blockPairs(blocks, struct(col("id"), col("fp")), cfg.maxBlock,
        cfg.purgeLimit, cfg.snWindow, sortKey = Some(col("fp")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming_dist64(col("a.fp"), col("b.fp")).as("hamming"))
      .filter(col("hamming").between(1, cfg.maxHamming)) // verify pre-shuffle
      .dropDuplicates("id_a", "id_b")

    val out = exactPairs.unionByName(nearPairs)
      .localCheckpoint(eager = true)
    scope.close()
    out
  }

  // --------------------------------------------------------- n-gram Jaccard
  /**
   * Exact token-set Jaccard for candidate pairs produced by any blocking
   * (here parameterized by a join condition on ids — e.g. consecutive ids,
   * or same-block ids). Pure expression work after one self-join.
   */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, pairCond: (Column, Column) => Column,
                        seed: Long = 42L): DataFrame = {
    val t = df.select(
      col(idCol).as("id"),
      text_ngram_hashes(col(textCol), n, seed).as("hashes"))
    t.as("a").join(t.as("b"), pairCond(col("a.id"), col("b.id")))
      .select(
        col("a.id").as("id_a"), col("b.id").as("id_b"),
        jaccard_sorted(col("a.hashes"), col("b.hashes")).as("jaccard"))
  }

  // ------------------------------------------------------ embedding cosine
  case class EmbeddingConfig(
      bands: Int = 8, bits: Int = 12, seed: Long = 42L,
      maxBlock: Int = 256, minCosine: Double = 0.95,
      purgeLimit: Int = 1000000, snWindow: Int = 8)

  /**
   * Embedding near-dup pairs at scale: signed-random-projection LSH buckets
   * (cos-similar vectors collide), thin bucket pairs, vectors joined back
   * for the exact cosine verify. Never materializes the all-pairs matrix.
   */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            cfg: EmbeddingConfig = EmbeddingConfig()): DataFrame = {
    val scope = new graft.ops.CacheScope
    val v = scope.cache(df.select(col(idCol).cast("string").as("id"),
        col(vecCol).cast("array<float>").as("vec")))
    val blocks = v.select(
      explode(srp_band_keys(col("vec"), cfg.bands, cfg.bits, cfg.seed)).as("key"),
      col("id"))
    val thin = blockPairs(blocks, struct(col("id")), cfg.maxBlock,
        cfg.purgeLimit, cfg.snWindow)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // bare build sides → one broadcast for both vector-attach joins
    // (ReuseExchange; see Blocking.attachFeatures)
    val va = v.as("env_a")
    val vb = v.as("env_b")
    val out = thin
      .join(va, col("id_a") === col("env_a.id"))
      .join(vb, col("id_b") === col("env_b.id"))
      .withColumn("cosine", cosine_sim(col("env_a.vec"), col("env_b.vec")))
      .filter(col("cosine") >= cfg.minCosine)
      .select("id_a", "id_b", "cosine")
      .localCheckpoint(eager = true)
    scope.close()
    out
  }

  // ----------------------------------------------------------------- util
  /**
   * Pairs within blocks keyed by `key` under the three-branch skew policy
   * (see object doc), generated by ONE keyed window:
   *
   *  1. thin per-key stats `groupBy(key).agg(n, pmin [, nTouch])`,
   *     partial-aggregable and map-side combined — NOT an unordered
   *     `count(*) over (partition by key)` window, which buffers whole
   *     groups just to learn their size. The stats purge exactly: they
   *     are filtered to the blocks the window pairs (2 ≤ n ≤ purgeLimit,
   *     n ≤ cap in star mode, plus nTouch ≥ 1 in delta mode) and joined
   *     back to the block rows, so singleton, purged and untouched blocks
   *     never reach the window;
   *  2. an EXPLICIT-N keyed exchange of those rows. AQE sizes an
   *     ENSURE_REQUIREMENTS exchange by its input bytes and cannot see the
   *     pair explode's amplification (the stream is quadratic in block
   *     size), so it coalesced the whole pair stage onto 1-2 tasks at bench
   *     sf0.1 (guide §2.5); a repartition with an explicit count is exempt
   *     from coalescing and also satisfies the window's distribution.
   *     N = max(defaultParallelism, numShufflePartitions / 2): one task per
   *     core is free at bench scale (a fan-out sweep over 8/32/64 read
   *     11.38/11.34/11.89 s), and the conf term keeps a floor for pair
   *     streams that need thousands of partitions;
   *  3. `Window.partitionBy(key).orderBy(sortKey desc, id desc)`, two kinds
   *     of function over it:
   *      - `tail = collect_list(p if n ≤ cap)` over ROWS UNBOUNDED PRECEDING
   *        .. 1 PRECEDING: in descending order that is every member AFTER
   *        the row in (sortKey, id) order, so a small block's rows explode
   *        its full C(n,2), each unordered pair once. The frame is a
   *        GROWING one: Spark adds one row per step and never re-aggregates,
   *        where a bounded sliding frame re-aggregates its whole frame for
   *        every row — O(cap) per row even where the row needs only
   *        snWindow neighbors. Hot rows feed it null (skipped), so a hot
   *        block costs O(1) here and no array ever exceeds cap − 1;
   *      - `lead(p, 1..snWindow)` for hot blocks (cap < n ≤ purgeLimit):
   *        sorted-neighborhood chains, O(snWindow) per row; in delta mode
   *        only marked rows emit, their `lead` and `lag` neighbors;
   *  4. one explode, null neighbors and self-pairs dropped (and, in delta
   *     mode, pairs with no marked side), canonical order.
   *
   * Star mode keeps oversized blocks (cap < n ≤ purgeLimit) OUT of the
   * window: they pair each member with the block-min `pmin` straight from
   * the stats join — no ordering, no per-key buffering — and union with
   * the window's pairs. The exact tiers that use it pass purgeLimit =
   * Int.MaxValue, and one exact-duplicate family may be millions of rows.
   *
   * Stock window frames and `explode` stay inside whole-stage codegen; no
   * custom Generator (CodegenFallback) and no nested C(n,2) array is ever
   * built — peak per row is one tail of < cap payloads. The window's largest
   * group is the largest block it pairs (≤ purgeLimit rows, ≤ cap in star
   * mode; spillable), the bound the sorted-neighborhood branch always had
   * (BASELINE.md lesson 5).
   * Output: (a, b) payload structs with a.id < b.id — a pair reached from
   * two blocks dedups correctly downstream — and never a.id == b.id, even
   * when a `(key, id)` row occurs twice: connected components takes ER's
   * edges as canonical (`edgesCanonical = true`), which excludes self-loops.
   *
   * @param payload  struct whose FIRST field must be `id`
   * @param oversizedStar oversized blocks emit STAR pairs (block-min payload
   *                 × each member, O(n) rows) instead of sorted-neighborhood
   *                 chains — the right shape for EXACT-identity tiers, where
   *                 a 10M-member dup family must stay connected without
   *                 C(n,2) or chain-only pairing
   * @param touching DELTA mode: a predicate over the payload marking batch
   *                 rows. Only pairs with ≥1 marked side are emitted — the
   *                 offline pair set restricted to the batch, each pair
   *                 once — and blocks with NO marked member are dropped at
   *                 the stats before any pair work (the daily-increment
   *                 regime: ~all corpus blocks). In a hot block only the
   *                 marked rows emit: a `lead` link (i, i+d) always, a
   *                 `lag` link (i−d, i) only when i−d is unmarked (else
   *                 i−d's `lead` emitted it). Without this policy an
   *                 incremental fold cross-joined batch×block up to
   *                 purgeLimit members — one 50k-member mention block × 5k
   *                 batch members = 250M pairs each dragging two signature
   *                 payloads, the shape that OOM-killed the 3.3M-doc fold
   *                 rehearsal at 60 GB of shuffle.
   * @param sortKey  block-local order as a column over the BLOCK ROW (sort
   *                 similar members adjacently: mention for ER, fingerprint
   *                 for simhash); None orders by id, and ties break on id.
   *                 A row column, not a payload field: heavy sort-only
   *                 columns (the ER mention string) must not ride the
   *                 payload, which a small block's tails copy up to cap
   *                 times per member: a 40-60 B mention on a 16 B id
   *                 multiplied the hottest stream's bytes ~4× for a column
   *                 only the window ORDER reads (guide §2.3). It is dropped
   *                 before any pair is emitted. A sort column the payload
   *                 already holds (simhash's fp) is read from the payload
   *                 instead, so it does not ride each shuffle twice.
   */
  private[graft] def blockPairs(blocks: DataFrame, payload: Column, cap: Int,
      purgeLimit: Int = 1000000, snWindow: Int = 8,
      oversizedStar: Boolean = false,
      touching: Option[Column => Column] = None,
      sortKey: Option[Column] = None): DataFrame =
    blockPairsWithStats(blocks, payload, cap, purgeLimit, snWindow,
      oversizedStar, touching, sortKey)._1

  /** [[blockPairs]] also returning its per-key stats table
    * `(key, n, pmin [, nTouch])` — one row per DISTINCT non-null key
    * (singletons and purged blocks included). Callers that need per-key
    * representatives anyway (the two-tier near-dup operators: tier 2 keys
    * on `min id per tier-1 key`) consume THIS frame instead of running a
    * second groupBy over the same keys. */
  private[graft] def blockPairsWithStats(blocks: DataFrame, payload: Column, cap: Int,
      purgeLimit: Int = 1000000, snWindow: Int = 8,
      oversizedStar: Boolean = false,
      touching: Option[Column => Column] = None,
      sortKey: Option[Column] = None): (DataFrame, DataFrame) = {
    val spark = blocks.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window

    val inPayload = sortKey.flatMap(payloadField(blocks, payload, _))
    val carried = sortKey.filter(_ => inPayload.isEmpty)

    // Null blocking keys are EXCLUDED by design: "null key" means "no
    // blocking signal", not "one shared block" — grouping every null-key row
    // into a single giant pseudo-block was never intended and cannot scale.
    // Callers whose key is meaningfully nullable must map null to a sentinel.
    val rows = blocks.filter($"key".isNotNull).select(
      Seq($"key", payload.as("p")) ++ carried.map(_.as("s")): _*)
    // min(p) is the star center (struct ordering is field-lexicographic and
    // `id` is the first field, so it is the block's min id — deterministic
    // under retries)
    val statAggs = Seq(count(lit(1)).as("n"), min($"p").as("pmin")) ++
      touching.map(t => sum(when(t($"p"), 1L).otherwise(0L)).as("nTouch")).toSeq
    val keyStats = rows.groupBy($"key").agg(statAggs.head, statAggs.tail: _*)
    val live = keyStats.filter($"n".between(2L, purgeLimit.toLong) &&
      touching.fold(lit(true))(_ => $"nTouch" >= 1L))
    val withN = rows.join(live.select($"key", $"n", $"pmin"), "key")
    val marked = touching.fold(lit(true))(t => t($"x") || t($"y"))

    val nParts = math.max(spark.sparkContext.defaultParallelism,
      spark.sessionState.conf.numShufflePartitions / 2)
    val ord = inPayload.map($"p".getField)
      .getOrElse(carried.fold($"p.id")(_ => $"s"))
    // descending, so the growing frame (UNBOUNDED PRECEDING .. 1 PRECEDING)
    // holds the members after the row; desc `lead` d is asc `lag` d, which
    // gives the same chain links
    val w = Window.partitionBy($"key").orderBy(ord.desc, $"p.id".desc)
    val tail = collect_list(when($"n" <= cap, $"p"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val leads = (1 to snWindow).map(d => lead($"p", d).over(w))
    // delta mode: marked rows emit lead links at positions 0..w-1 and lag
    // links after them; a lag link to a marked row is that row's lead link
    val hot = touching.fold(array(leads: _*))(t =>
      when(t($"p"), array(leads ++ (1 to snWindow).map(d => lag($"p", d).over(w)): _*)))
    val ys = if (oversizedStar) tail else when($"n" <= cap, tail).otherwise(hot)
    // star mode: oversized blocks take the stats-join path below, not the
    // window
    val windowed = (if (oversizedStar) withN.filter($"n" <= cap) else withN)
      .repartition(nParts, $"key")
      .select($"p".as("x"), $"n", ys.as("ys")) // window exprs first, generate second
      .select($"x", $"n", posexplode($"ys").as(Seq("i", "y")))
      .filter($"y".isNotNull && $"x.id" =!= $"y.id" && touching.fold(lit(true))(t =>
        when($"n" <= cap, marked).otherwise($"i" < snWindow || !t($"y"))))
      .select($"x", $"y")
    val all = if (!oversizedStar) windowed else windowed.unionByName(
      withN.filter($"n" > cap).select($"pmin".as("x"), $"p".as("y"))
        .filter($"x.id" =!= $"y.id" && marked))

    val pairs = all
      .select(
        when($"x.id" < $"y.id", $"x").otherwise($"y").as("a"),
        when($"x.id" < $"y.id", $"y").otherwise($"x").as("b"))
    (pairs, keyStats)
  }

  /** Name of the `payload` field that holds exactly the value of `key` over
    * `blocks` (same resolved, deterministic expression), if there is one. */
  private def payloadField(blocks: DataFrame, payload: Column, key: Column): Option[String] =
    blocks.select(payload.as("p"), key.as("s")).queryExecution.analyzed match {
      case Project(Seq(Alias(p: CreateNamedStruct, _), Alias(s, _)), _) =>
        p.names.zip(p.valExprs).collectFirst { case (n, v) if v.semanticEquals(s) => n.toString }
      case _ => None
    }

  // ------------------------------------------------ benchmark decontamination
  /**
   * Benchmark decontamination (the GPT-3 §C / The Pile rule): drop every
   * corpus document that shares ANY normalized token n-gram with a
   * benchmark/eval set, so training data cannot leak test answers. n = 13
   * is the published standard for web corpora; tests use small n on tiny
   * fixtures.
   *
   * Scale shape (10^12-doc corpus × ~10^6-gram benchmark): the benchmark
   * side collapses to ONE row — a sorted distinct array of n-gram hashes —
   * and broadcasts (same construction as `Blocking.dfStopSet`; eval suites
   * are EXPECTED to be tiny next to the corpus, ~10^5-10^7 grams ≈ 1-80 MB
   * of longs). The corpus side is then a pure scan filter:
   * `arrays_overlap(doc_grams, bench_grams)` probes a hash set built once
   * per task from the broadcast — NO explode of the corpus, NO shuffle, NO
   * join of the big side; predicate and column pruning reach the parquet
   * scan untouched. If a pathological benchmark outgrows the broadcast
   * ceiling, fall back to the explode + distinct-contaminated-ids +
   * left_anti join shape (one corpus explode, two thin shuffles) — not
   * implemented here because it is strictly worse in the intended regime.
   *
   * Hash-domain note: overlap is tested on 64-bit n-gram hashes, not gram
   * strings — a cross-gram collision (~10^-9 per benchmark gram pair at
   * 10^7 grams) can only OVER-remove one extra document, never leak one.
   */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    n: Int = 13, seed: Long = 42L): DataFrame = {
    def grams(c: Column) = text_ngram_hashes(c, n, seed)
    val benchSet = benchmark
      .select(explode(grams(col(textCol))).as("g")).distinct()
      .agg(sort_array(collect_list(col("g"))).as("bench_grams")) // one row
    corpus
      .crossJoin(broadcast(benchSet)) // BroadcastNestedLoopJoin of a 1-row build side
      .filter(!arrays_overlap(grams(col(textCol)), col("bench_grams")))
      .drop("bench_grams")
  }

  // ------------------------------------------------ cross-doc line dedup
  /**
   * Cross-document boilerplate line removal (the RefinedWeb/CCNet line-dedup
   * rule): a line that occurs in ≥ `minDocs` DISTINCT documents is
   * boilerplate (nav bars, cookie banners, footers) and is dropped from
   * every document; surviving lines keep their original order. The
   * reference engine has no sub-document dedup — this is part of the
   * training-data extension family (SURVEY.md §2 extensions), sitting
   * between F6 exact whole-doc dedup and the near-dup tiers.
   *
   * Input is an exploded-ready `ARRAY<STRING>` lines column (callers split
   * on '\n' — or any segmentation — upstream, keeping this operator
   * separator-agnostic). Output: one row per input doc,
   * `(idCol, linesCol: kept lines in order, lines_removed: BIGINT)`.
   *
   * Scale shape (10^12 docs × ~30 lines):
   *  - ONE posexplode; the document-frequency aggregation shuffles
   *    (xxhash64(line), id) thin pairs — the 8-byte line key, never the
   *    line text (64-bit birthday math: ~10^10 distinct lines give a
   *    ~3·10^-3 chance of ANY cross-line collision corpus-wide, and a
   *    collision only mislabels one line's df) — as two map-side-combinable
   *    hash aggregates (distinct (h, id), then count per h);
   *  - the boilerplate set (df ≥ minDocs) is joined back to the exploded
   *    lines: Catalyst broadcasts it when it fits (the typical case —
   *    boilerplate vocabularies are tiny relative to the corpus) and
   *    degrades to a shuffle join when a pathological corpus makes it big;
   *  - reassembly is one hash aggregate per doc (collect_list of
   *    (pos, line) structs, sorted in-row — no window, no second explode).
   */
  def lineDedup(docs: DataFrame, idCol: String = "doc_id",
                linesCol: String = "lines", minDocs: Int = 5): DataFrame = {
    val lines = docs
      .select(col(idCol).as("id"), posexplode(col(linesCol)).as(Seq("pos", "line")))
      .withColumn("h", xxhash64(col("line")))
    val boiler = lines.select(col("h"), col("id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("h"), lit(true).as("boiler"))
    lines.join(boiler, Seq("h"), "left")
      .withColumn("boiler", coalesce(col("boiler"), lit(false)))
      .groupBy(col("id"))
      .agg(
        // collect_list skips the when()'s null branch, so only kept lines
        // enter; array_sort on (pos, line) structs restores document order
        transform(
          array_sort(collect_list(when(!col("boiler"), struct(col("pos"), col("line"))))),
          _.getField("line")).as(linesCol),
        sum(when(col("boiler"), 1L).otherwise(0L)).as("lines_removed"))
      .withColumnRenamed("id", idCol)
  }

  // --------------------------------------------- cross-doc repeated spans
  /**
   * Cross-document repeated-span detection — the distributed analog of
   * exact-substring dedup (Lee et al. 2022, arXiv:2107.06499, whose suffix
   * array is a single-node construction): every k-token window whose gram
   * occurs in ≥ `minDocs` DISTINCT documents is "repeated", and overlapping
   * or adjacent repeated windows within a doc merge into maximal token
   * spans. Output: `(id, span_start, span_end)` — one row per maximal span,
   * half-open token coordinates over the normalized whitespace tokenization
   * (the P6 coordinate machinery maps them back to char offsets when the
   * caller needs to cut raw text). Downstream policy — excise the spans or
   * drop heavily-spanned docs — is the caller's.
   *
   * Scale shape (10^12 docs):
   *  - grams travel as positional 8-byte hash-chain keys
   *    ([[graft.functions.HashKernels.tokenNgramSeq]]) — only (hash, id,
   *    pos) is ever exploded or shuffled, never gram text (same 64-bit
   *    birthday math as [[lineDedup]]; a collision mislabels one window);
   *  - the document-frequency pass is two map-side-combinable hash
   *    aggregates (distinct (g, id), then count per g) — no window;
   *  - the repeated-gram set joins back to the gram stream: Catalyst
   *    broadcasts it when it fits, shuffle join otherwise;
   *  - interval merging is gaps-and-islands over windows partitioned per
   *    DOCUMENT — group size is bounded by a single doc's token count (a
   *    per-doc kernel bound, NOT the unbounded block/domain group windows
   *    BASELINE.md lesson 5 bans).
   */
  def repeatedSpans(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", k: Int = 13,
                    minDocs: Int = 2, seed: Long = 42L): DataFrame = {
    require(k >= 1, s"window must be >= 1 token, got $k")
    require(minDocs >= 2, s"a span repeated in < 2 docs is not cross-doc, got $minDocs")
    val grams = docs.select(
      col(idCol).as("id"),
      posexplode(text_ngram_hash_seq(col(textCol), k, seed)).as(Seq("pos", "g")))
    val repeated = grams.select(col("g"), col("id")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("g"))
    val marked = grams.join(repeated, "g").select(col("id"), col("pos"))
    // gaps-and-islands: a window starts a new span iff it begins past the
    // running max end of all earlier windows (pos == prev end ⇒ adjacent ⇒
    // merge: the excised text is contiguous either way)
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("pos"))
    val prevEnd = max(col("pos") + k)
      .over(byDoc.rowsBetween(Long.MinValue, -1))
    val newSpan = when(col("pos") > coalesce(prevEnd, lit(-1)), 1L).otherwise(0L)
    marked
      .withColumn("island", sum(newSpan).over(byDoc.rowsBetween(Long.MinValue, 0)))
      .groupBy(col("id"), col("island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + k).cast("long").as("span_end"))
      .select(col("id"), col("span_start"), col("span_end"))
  }
}
