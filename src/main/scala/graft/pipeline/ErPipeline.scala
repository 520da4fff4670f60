package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.block.Blocking
import graft.cluster.ConnectedComponents
import graft.eval.PairwiseF1
import graft.functions.GraftFunctions.id128
import graft.ops.Checkpoints
import graft.schema.Page
import graft.score.PairScorer

/**
 * The end-to-end record-linkage pipeline (north rule): blocking → pairwise
 * scoring → transitive clustering, the Spark-first reframing of the
 * reference's retrieve → read → link flow (SURVEY.md §3.1-3.2; reference
 * driver `/root/reference/relik/inference/annotator.py:250-630`).
 *
 * `run` executes lazily end-to-end (bench path, no intermediate I/O);
 * `runCheckpointed` commits each stage as a snapshot table with manifest +
 * lineage counters and resumes any completed stage (north-rule contract).
 *
 * ID DISCIPLINE: the hot path — block-key explode, pair generation, pair
 * dedup, both attach joins, edge set, CC node ids — shuffles 128-bit hash
 * ids (STRUCT<h1,h2>, 16 bytes; collision math at
 * [[graft.functions.GraftFunctions.id128]]) instead of url strings (~60-80
 * bytes + offsets). Every one of those stages shuffles each doc's id
 * b+|mention| times, so id width is a first-order term in total shuffle
 * bytes — and on a memory-bandwidth-bound executor, bytes are wall-clock.
 * Urls are hashed in once (a pure expression over the cached feature scan,
 * no join) and restored once at output ([[clusterByMinUrl]]), which labels
 * every cluster by its lexicographic minimum url — the same labels
 * [[incremental]] produces over url-keyed state (property-tested in
 * ErPipelineSpec against a driver-side union-find over url-keyed edges).
 */
object ErPipeline {

  /** `fingerprint` is the whole config as its case-class string, so every
    * field that changes stage output is in it and a resume never reuses a
    * stage built under a different config. */
  case class Config(
      blocking: Blocking.Config = Blocking.Config(),
      scorer: PairScorer.Config = PairScorer.Config()) {
    def fingerprint: String = toString
  }

  /** Close the id-space `edges` over every page url (hashed to its 128-bit
    * node id) and label each component by its minimum member url:
    * (url, cluster_id: url). The relabel is two thin shuffles at OUTPUT
    * scale (one map-side-combined min per component + one join of the
    * n-row assignment against the per-component labels), paid once —
    * versus the id-width savings paid on every hot-path shuffle.
    * edgesCanonical: candidatePairs ends in a canonical-order
    * dropDuplicates, attachFeatures joins one feature row per id, and
    * scoring only filters — the edge set reaches CC already distinct with
    * no self-loops, so CC's defensive distinct (a full extra exchange of
    * the edge set, guide §2.4) is skipped. */
  private def clusterByMinUrl(pages: DataFrame, edges: DataFrame): DataFrame = {
    val nodes = pages.select(col("url"), id128(col("url")).as("nid"))
    val assigned = ConnectedComponents.assignAllKeyed(nodes, edges, "nid",
      edgesCanonical = true)
    val labels = assigned.groupBy(col("cluster_id"))
      .agg(min(col("url")).as("cluster_url"))
    assigned.join(labels, Seq("cluster_id"))
      .select(col("url"), col("cluster_url").as("cluster_id"))
  }

  /** pages → (url, cluster_id). `feats` is consumed twice (block keys and
    * scorer payload) and its computation — extraction, normalization,
    * tokenization, MinHash over every page — dominates map-side cost, so it
    * is persisted for the run instead of recomputed per consumer. The
    * connected-components step runs eagerly, so by the time the assignment
    * returns the edge pipeline has been fully consumed and every cache from
    * this run can be freed (the bench and scaling suite run this many times
    * in one JVM; leaked caches compound). */
  def run(pages: Dataset[Page], cfg: Config = Config()): DataFrame = {
    val scope = new graft.ops.CacheScope
    // Cache the SCORER'S projection, not the full feature schema: blockKeys
    // and attachFeatures read only (url, mention, sig), while tokenHashes is
    // a ~300-long array per doc — caching it would make the cache build
    // write (and hold) ~6× the bytes any consumer ever reads. Column pruning
    // protects the scans either way; the projection protects the BUILD and
    // the executor-memory footprint, which on a bandwidth-bound executor is
    // wall-clock (BASELINE.md round-5 floor diagnosis). The full-width
    // feature row still exists once per run in the DF-stop pass's inner
    // cache (Blocking.features), which genuinely consumes the arrays twice.
    val featsU = scope.cache(Blocking.features(pages, cfg.blocking, Some(scope))
      .select(col("url"), col("mention"), col("sig")))
    // re-keyed to 128-bit ids by a narrow projection (no join); consumers
    // see the same `url` column name with the 16-byte struct in it
    val feats = featsU.withColumn("url", id128(col("url")))
    val blocks = Blocking.blockKeys(feats, cfg.blocking)
    val pairs = Blocking.candidatePairs(blocks, cfg.blocking)
    val edges = PairScorer.score(Blocking.attachFeatures(pairs, feats), cfg.scorer)
    val out = clusterByMinUrl(pages.toDF(), edges)
    scope.close()
    out
  }

  /** Checkpointed variant: every stage is a committed snapshot (resume-safe;
    * see [[Config]] for the fingerprint, to which the pages stage adds
    * [[Checkpoints.inputFilesDigest]] of a file-scan input) that names the
    * stages it was built from, so a recomputed stage recomputes every stage
    * after it.
    * Feature/pair/edge snapshots live in id space — the features snapshot
    * keeps BOTH the url and the derived id column, so downstream consumers
    * (e.g. Main's candidate-miss diagnostics) can translate pair snapshots
    * back to urls with one broadcast-or-shuffle join against it
    * ([[pairsToUrls]]). */
  def runCheckpointed(spark: SparkSession, pages: Dataset[Page], workDir: String,
                      cfg: Config = Config()): DataFrame = {
    def stage(name: String, inputs: String*)(df: => DataFrame): DataFrame =
      Checkpoints.stage(spark, s"$workDir/$name", name, cfg.fingerprint,
        inputs.map(i => s"$workDir/$i"))(df)

    // the pages stage has no committed input to name: when it copies a file
    // scan, the scanned files are its input, so a corpus overwritten in the
    // same path recomputes it (and, through its new snapshot, every stage)
    val pagesFp = Checkpoints.inputFilesDigest(pages.toDF())
      .fold(cfg.fingerprint)(d => s"${cfg.fingerprint} pages.inputFiles=$d")
    val pagesT = Checkpoints.stage(spark, s"$workDir/pages", "pages", pagesFp)(pages.toDF())

    val feats = stage("features", "pages") {
      Blocking.features(
          pagesT.as[Page](org.apache.spark.sql.Encoders.product[Page]), cfg.blocking)
        .withColumn("nid", id128(col("url")))
    }

    // id-space view of the features snapshot (url dropped, nid as the key)
    val featsKeyed = feats.drop("url").withColumnRenamed("nid", "url")

    val pairs = stage("pairs", "features") {
      Blocking.candidatePairs(Blocking.blockKeys(featsKeyed, cfg.blocking), cfg.blocking)
    }

    val edges = stage("edges", "pairs", "features") {
      PairScorer.score(Blocking.attachFeatures(pairs, featsKeyed), cfg.scorer)
    }

    stage("clusters", "pages", "edges") {
      clusterByMinUrl(pagesT, edges)
    }
  }

  /**
   * Batch-incremental ER (daily operations at 10^12 docs): fold a crawl
   * batch into an existing ER state, generating and scoring ONLY the pairs
   * that touch the batch and re-converging ONLY the clusters those edges
   * reach ([[ConnectedComponents.incremental]]). Re-running [[run]] over
   * corpus ∪ batch would shuffle the world to answer a question about the
   * increment — same motivation as [[graft.dedup.Dedup.incrementalExact]].
   *
   * Inputs are the artifacts a [[runCheckpointed]] (or [[run]]) left behind:
   * the per-doc feature snapshot `(url, mention, sig)` and the assignment
   * `(url, cluster_id)`; `newFeatures` is the caller's feature pass over the
   * batch — computed with the SAME stop discipline the store was minted with
   * ([[graft.streaming.EntityAssign]]'s frozen-stop contract; with DF-stops
   * enabled, per-batch stop recomputation makes signatures drift with batch
   * composition).
   *
   * Scale shape:
   *  - the corpus-side cost is ONE block-key map pass + the thin per-key
   *    stats aggregate (map-side combined) — the corpus is never pair-joined
   *    against itself, and blocks with no batch member (at a daily-increment
   *    ratio, nearly all of them) are dropped before any pair work;
   *  - candidate generation runs the SAME small/hot/purge skew policy as the
   *    offline path ([[Blocking.deltaCandidatePairs]]), restricted to pairs
   *    touching the batch: small blocks pair fresh×all inside the bounded
   *    C(n,2), hot blocks pair each fresh doc with its ±snWindow mention-
   *    sorted neighbors, oversize keys are purged. The first cut of this
   *    path cross-joined batch×block up to `purgeLimit` members — one
   *    50k-member mention block × 5k batch docs = 250M candidate pairs,
   *    each dragging two ~400 B signatures through the attach join; the
   *    3.3M-doc fold rehearsal OOM-killed the host at 60 GB of shuffle
   *    before the policy was unified;
   *  - feature attach + scoring run at candidate volume (batch-sized), and
   *    the cluster re-converge touches only affected components.
   *
   * Labeling matches the full rebuild: merged components relabel to their
   * minimum member id, untouched clusters keep their labels, and novel
   * batch docs with no edges become singletons — so with corpus-independent
   * features (frozen or disabled DF-stops) and blocks inside the all-pairs
   * regime, `incremental(old state, batch)` equals `run(corpus ∪ batch)`
   * exactly (property-tested in ErPipelineSpec).
   */
  def incremental(oldFeatures: DataFrame, oldAssignment: DataFrame,
                  newFeatures: DataFrame, cfg: Config = Config()): DataFrame = {
    val fcols = Seq(col("url"), col("mention"), col("sig"))
    val oldF = oldFeatures.select(fcols: _*)
    // the batch featurization (minhash over every batch page) is consumed
    // by block keys, both attach sides and the singleton anti-join — four
    // recomputations of the heaviest batch-side kernel without this
    // checkpoint (measured ~60 s of the 300k-doc fold)
    val newF = newFeatures.select(fcols: _*).localCheckpoint(eager = true)
    val allF = oldF.unionByName(newF)

    // blockKeys is a per-row map (explode) — keying the two sides separately
    // and unioning is plan-identical to keying the union, and lets the batch
    // side carry its `fresh` mark without a join against the block table.
    // Checkpointed: consumed by the bloom aggregate, the key count and the
    // pair union — three passes over the batch featurization otherwise.
    val newBlocks = Blocking.blockKeys(newF, cfg.blocking)
      .withColumn("fresh", lit(true))
      .localCheckpoint(eager = true)
    // Bloom pre-prune of the CORPUS block table on the batch's key set: a
    // corpus row whose key no batch doc shares can sit in no touched block,
    // and the bloom has no false negatives, so the drop is exact (false
    // positives are untouched blocks that the nTouch ≥ 1 stats filter
    // removes as before — bytes, never semantics). Without it the delta
    // policy's thin stats + join still SHUFFLED every corpus block row:
    // measured 14 GB / 277 s for a 300k-doc fold at 3.3M docs — slower
    // than the 178 s full rebuild it was supposed to beat. With the prune,
    // shuffled rows scale with touched blocks (~key-share of the batch),
    // not the corpus. Regime bound per BloomPrune: a batch whose key set
    // outgrows the broadcastable bloom belongs on a bucketed corpus block
    // artifact (key-bucketed at write), not a runtime filter.
    val nNewKeys = math.max(1L, newBlocks.count()) // row count ≥ key NDV
    val touchKey = graft.ops.BloomPrune.mightContain(
      newBlocks.select(col("key")), "key", col("key"), nNewKeys)
    val allBlocks = Blocking.blockKeys(oldF, cfg.blocking)
      .filter(touchKey)
      .withColumn("fresh", lit(false))
      .unionByName(newBlocks)
    // Candidates are batch-scoped and thin — checkpoint once (consumed by
    // the id bloom and both attach joins), then bloom-prune the feature
    // union down to docs that actually appear in a pair before attaching.
    // attachFeatures' equi-joins make the prune exact (bloom false
    // positives match no pair row); without it both attach joins shuffled
    // the FULL corpus feature table (~400 B signature rows) to deliver
    // payloads for batch-sized pairs. With it the corpus features are
    // scanned, never shuffled — survivors are pair-participant rows only.
    val cand = Blocking.deltaCandidatePairs(allBlocks, cfg.blocking)
      .localCheckpoint(eager = true)
    val nSideIds = math.max(1L, 2L * cand.count())
    val sideIds = cand.select(col("url_a").as("id"))
      .unionAll(cand.select(col("url_b").as("id")))
    val inPairs = graft.ops.BloomPrune.mightContain(
      sideIds, "id", col("url"), nSideIds)
    val edges = PairScorer.score(
        Blocking.attachFeatures(cand, allF.filter(inPairs)), cfg.scorer)
      .select(col("url_a"), col("url_b"))

    val touched = ConnectedComponents.incremental(oldAssignment, edges)
    // novel batch docs no edge reached: singleton clusters, like assignAll's
    // closure over the full node universe
    val singles = newF.select(col("url"))
      .join(touched, Seq("url"), "left_anti")
      .select(col("url"), col("url").as("cluster_id"))
    touched.unionByName(singles)
  }

  /** Translate an id-space pair table (url_a, url_b as 128-bit structs)
    * back to url strings via the features snapshot's (url, nid) columns —
    * for diagnostics over checkpointed pair/edge artifacts. */
  def pairsToUrls(pairs: DataFrame, feats: DataFrame): DataFrame = {
    val dict = feats.select(col("nid"), col("url"))
    pairs
      .join(dict.select(col("nid").as("url_a"), col("url").as("ua")), Seq("url_a"))
      .join(dict.select(col("nid").as("url_b"), col("url").as("ub")), Seq("url_b"))
      .select(col("ua").as("url_a"), col("ub").as("url_b"))
  }

  /** Convenience: run + evaluate against labeled pairs. */
  def runAndEvaluate(pages: Dataset[Page], goldPairs: DataFrame,
                     cfg: Config = Config()): (DataFrame, PairwiseF1.Result) = {
    val clusters = run(pages, cfg)
    val res = PairwiseF1.evaluate(goldPairs, clusters)
    (clusters, res)
  }
}
