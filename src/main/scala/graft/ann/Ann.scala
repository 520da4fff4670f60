package graft.ann

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.functions.VectorKernels

/**
 * Similarity search over an embedding column `ARRAY<FLOAT>` (the Spark-scale
 * reframing of the reference's dense retrieval: brute-force `Q·Eᵀ` + topk at
 * `/root/reference/relik/retriever/indexers/inmemory.py:269-315`, ANN via
 * FAISS at `faissindex.py:343-370`).
 *
 * Two paths:
 *  - `bruteForceTopK`: exact. Queries are broadcast (small side); each corpus
 *    partition computes a local top-k per query with a bounded heap
 *    (mapPartitions — the one place imperative code beats SQL: it avoids
 *    materializing |corpus|×|queries| rows before the window), then a single
 *    tiny shuffle (numPartitions × q × k rows) merges partials.
 *  - `lshTopK`: approximate scale path. Signed-random-projection buckets
 *    bound the candidate set; exact cosine re-rank inside buckets.
 */
object Ann {

  case class Neighbor(query_id: Long, neighbor_id: Long, cosine: Double)

  /**
   * Exact top-k cosine neighbors for each query vector.
   * `queries` must be collectable (broadcast side).
   */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._

    val q: Array[(Long, Array[Float])] = queries
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])].collect()
    val qB = spark.sparkContext.broadcast(q)

    val partials = corpus
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val qs = qB.value
        // per-query bounded min-heaps over (cosine, id)
        val heaps = Array.fill(qs.length)(
          collection.mutable.PriorityQueue.empty[(Double, Long)](
            Ordering.by[(Double, Long), (Double, Long)](t => (-t._1, t._2))))
        it.foreach { case (id, vec) =>
          var i = 0
          while (i < qs.length) {
            val (qid, qv) = qs(i)
            if (id != qid) {
              val c = VectorKernels.cosineArr(qv, vec)
              val h = heaps(i)
              if (h.size < k) h.enqueue((c, id))
              else if (c > h.head._1 || (c == h.head._1 && id < h.head._2)) {
                h.dequeue(); h.enqueue((c, id))
              }
            }
            i += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, i) =>
          h.iterator.map { case (c, id) => Neighbor(qs(i)._1, id, c) }
        }
      }

    // global merge of partition-local top-k (tiny): deterministic tiebreak
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id".asc)
    partials.toDF()
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
  }

  case class LshConfig(bands: Int = 16, bits: Int = 10, seed: Long = 42L,
                       maxBlock: Int = 2048, purgeLimit: Int = 1000000, snWindow: Int = 8,
                       fallbackChunk: Int = 10000)

  /** Observability for the always-k top-up (no-silent-caps rule): how many
    * queries missed k candidates in the primary buckets, how many still
    * missed after the coarse multi-probe pass, and how many chunked exact
    * passes the residue needed. Set by `lshTopK`/`queryIndex`.
    *
    * LAST-CALL-WINS: this is a process-global diagnostic, overwritten by
    * every top-up run; under concurrent ANN queries it reflects whichever
    * finished last (each run also logs its own stats line to stderr). */
  case class TopUpStats(sparsePrimary: Long, sparseAfterCoarse: Long, exactChunks: Int)
  @volatile var lastTopUpStats: TopUpStats = TopUpStats(0, 0, 0)

  /**
   * Always-k completion (the reference returns exactly k rows per query,
   * `inmemory.py:294-296`) WITHOUT the unbounded driver fallback the round-2
   * version had (it `collect()`ed every sparse query and brute-forced the
   * full corpus — vectors that land only in singleton buckets ALL fall into
   * the sparse set, so a spread-out corpus degraded to |corpus|×|queries|
   * through one driver broadcast).
   *
   *  1. COARSE MULTI-PROBE, fully distributed: re-bucket the sparse queries
   *     and the corpus at bits/2. The hyperplane for (band, bit) depends
   *     only on (band, bit, seed) — see `VectorKernels.srpBandKeys` — so a
   *     coarse bucket is a strict SUPERSET of the fine bucket: each halving
   *     of bits multiplies expected bucket population by 2^(bits/2), which
   *     resolves almost all sparse queries in one pass.
   *  2. CHUNKED EXACT residue: whatever still lacks k goes brute-force in
   *     bounded chunks of `fallbackChunk` queries (driver holds one chunk
   *     at a time, never the whole sparse set), with the chunk count logged
   *     and recorded in `lastTopUpStats`.
   *
   * @param corpus  (id, vec) neighbor pool — must be persisted by the caller
   * @param queriesV (id, vec) query set (= corpus for self-join usage)
   * @param ranked0 (query_id, neighbor_id, cosine, rank) primary candidates
   * @return (result, scratch): `scratch` is the intermediate localCheckpoint
   *         storage (coarse re-rank + per-chunk exact results) that the
   *         CALLER must unpersist after materializing its own final
   *         checkpoint of `result` — freeing it here would pull the rug from
   *         under the still-lazy result plan
   */
  private def completeTopK(corpus: DataFrame, queriesV: DataFrame,
                           ranked0: DataFrame, k: Int,
                           cfg: LshConfig): (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val v = corpus
    // Checkpoint the THIN primary candidates ONCE (≤ k rows per query):
    // without this, `fullRanked`, the coarse-pass merge AND the caller's
    // final materialization each re-executed the ENTIRE primary LSH
    // pipeline (bucket explode → blockPairs → vector join → re-rank) —
    // shuffle reuse does not survive across separate actions, so the
    // bench-visible cost was ~3× the pipeline (guide §1.2: don't compute
    // things you throw away). The per-query candidate count rides the SAME
    // window partitioning row_number already established (guide §2.4 —
    // no second exchange; groups are bounded by the rank ≤ k filter), so
    // full/sparse classification is a filter, not a groupBy + semi-join.
    val cw = org.apache.spark.sql.expressions.Window.partitionBy($"query_id")
    val ranked = ranked0.withColumn("cnt", count(lit(1)).over(cw))
      .localCheckpoint(eager = true)
    val rankedBlocks =
      org.apache.spark.sql.graftbridge.ColumnBridge.checkpointedRdd(ranked).toSeq
    val fullRanked = ranked.filter($"cnt" >= k).drop("cnt")

    val sparse1 = queriesV.join(
        ranked.filter($"cnt" >= k).select($"query_id".as("id")), Seq("id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n1 = sparse1.count()
    if (n1 == 0) {
      sparse1.unpersist(blocking = false)
      lastTopUpStats = TopUpStats(0, 0, 0)
      return (fullRanked, rankedBlocks)
    }

    // coarse pass: same seed, half the bits -> superset buckets
    val coarseBits = math.max(1, cfg.bits / 2)
    val cKeys = (d: DataFrame) => d.select($"id", $"vec",
      explode(graft.functions.GraftFunctions.srp_band_keys(
        $"vec", cfg.bands, coarseBits, cfg.seed)).as("key"))
    val qk = cKeys(sparse1).select($"id".as("qid"), $"vec".as("qvec"), $"key")
    val ck = cKeys(v).select($"id", $"key")
    val coarseCands = qk.join(ck, Seq("key"))
      .filter($"id" =!= $"qid")
      .select($"qid", $"qvec", $"id").dropDuplicates("qid", "id")
      .join(v.select($"id", $"vec"), Seq("id"))
      .select($"qid".as("query_id"), $"id".as("neighbor_id"),
        graft.functions.GraftFunctions.cosine_sim($"qvec", $"vec").as("cosine"))
    // merge with whatever the primary buckets already found for these
    // queries (read from the checkpoint, not a re-execution)
    val sparseRanked0 = ranked.filter($"cnt" < k)
      .select($"query_id", $"neighbor_id", $"cosine")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id".asc)
    val coarseRanked = coarseCands.unionByName(sparseRanked0)
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("rank", row_number().over(w)).filter($"rank" <= k)
      .withColumn("cnt", count(lit(1)).over(cw))
      .localCheckpoint(eager = true)

    val sparse2 = sparse1.join(
        coarseRanked.filter($"cnt" >= k).select($"query_id".as("id")), Seq("id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n2 = sparse2.count()

    val exact = if (n2 == 0) Seq.empty[DataFrame] else {
      val nChunks = math.max(1, math.ceil(n2.toDouble / cfg.fallbackChunk).toInt)
      (0 until nChunks).map { c =>
        val chunk = sparse2.filter(pmod(xxhash64($"id"), lit(nChunks)) === c)
        bruteForceTopK(v, chunk, k, idCol = "id", vecCol = "vec")
          .select($"query_id", $"neighbor_id", $"cosine", $"rank")
          .localCheckpoint(eager = true)
      }
    }
    val nChunksRun = exact.size
    lastTopUpStats = TopUpStats(n1, n2, nChunksRun)
    if (n1 > 0)
      System.err.println(s"[graft.ann] always-k top-up: sparse_primary=$n1 " +
        s"after_coarse=$n2 exact_chunks=$nChunksRun (corpus never collected)")

    val coarseOnly = coarseRanked.filter($"cnt" >= k).drop("cnt")
    val out = (Seq(fullRanked, coarseOnly) ++ exact).reduce(_ unionByName _)
    sparse1.unpersist(blocking = false)
    sparse2.unpersist(blocking = false)
    val scratch = rankedBlocks ++ (coarseRanked +: exact)
      .flatMap(org.apache.spark.sql.graftbridge.ColumnBridge.checkpointedRdd)
    (out, scratch)
  }

  /**
   * S6 index artifact (the FAISS build-once/query-many analog,
   * `/root/reference/relik/retriever/indexers/faissindex.py:343-370`):
   * persist the SRP bucket table + vectors as partitioned parquet. Queries
   * then touch only their own bucket keys — the scan prunes on the `band`
   * partition column and the join is key-equi, so query cost is independent
   * of corpus size for fixed bucket geometry.
   */
  def buildIndex(corpus: DataFrame, path: String, cfg: LshConfig = LshConfig(),
                 idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val v = corpus.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<float>").as("vec"))
    v.select(posexplode(srp_band_keys(col("vec"), cfg.bands, cfg.bits, cfg.seed))
        .as(Seq("band", "key")), col("id"))
      .write.mode("overwrite").partitionBy("band").parquet(s"$path/buckets")
    v.write.mode("overwrite").parquet(s"$path/vectors")
    // geometry manifest: queries must hash with the same cfg
    corpus.sparkSession.createDataFrame(Seq(
        (cfg.bands, cfg.bits, cfg.seed)))
      .toDF("bands", "bits", "seed")
      .write.mode("overwrite").json(s"$path/meta")
  }

  /**
   * Query a persisted index: hash queries with the stored geometry, join
   * bucket keys (band-partition-pruned scan), exact cosine re-rank, top-k.
   * Queries short of k bucket candidates complete via `completeTopK`
   * (coarse multi-probe, then bounded chunked exact — never an unbounded
   * driver collect).
   */
  def queryIndex(spark: SparkSession, path: String, queries: DataFrame, k: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val meta = spark.read.json(s"$path/meta").collect().head
    val cfg = LshConfig(bands = meta.getAs[Long]("bands").toInt,
      bits = meta.getAs[Long]("bits").toInt, seed = meta.getAs[Long]("seed"))
    val buckets = spark.read.parquet(s"$path/buckets")
    val vectors = spark.read.parquet(s"$path/vectors")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = queries.select(col(idCol).cast("long").as("qid"),
      col(vecCol).cast("array<float>").as("qvec"))
    val qKeys = q.select(col("qid"), col("qvec"),
      posexplode(srp_band_keys(col("qvec"), cfg.bands, cfg.bits, cfg.seed))
        .as(Seq("band", "key")))
    val cands = qKeys.join(buckets, Seq("band", "key"))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("qvec"), col("id")).dropDuplicates("qid", "id")
      .join(vectors, "id")
      .select(col("qid").as("query_id"), col("id").as("neighbor_id"),
        cosine_sim(col("qvec"), col("vec")).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id").asc)
    val ranked = cands.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
    val qv = q.select(col("qid").as("id"), col("qvec").as("vec"))
    val (completed, scratch) = completeTopK(vectors, qv, ranked, k, cfg)
    val out = completed.localCheckpoint(eager = true)
    // final checkpoint materialized above — the top-up's intermediate
    // checkpoint blocks are dead; free them now (long-lived bench JVMs
    // otherwise accumulate them for the session lifetime)
    scratch.foreach(_.unpersist(blocking = false))
    vectors.unpersist(blocking = false)
    out
  }

  /**
   * Approximate top-k: SRP-LSH candidate generation (thin bucket pairs via
   * `Dedup.blockPairs` — canonical id order, skew policy, vectors joined
   * back only for the surviving pairs) + exact cosine re-rank.
   * Works corpus-vs-corpus (every row is a query) without a cross join.
   *
   * Completeness: queries whose buckets yield fewer than k candidates
   * (the reference always returns k per query, `inmemory.py:294-296`)
   * complete via `completeTopK` — coarse multi-probe first, then a
   * bounded chunked exact pass, never an unbounded driver collect.
   */
  /**
   * IVF configuration (the FAISS `IndexIVFFlat` analog,
   * `/root/reference/relik/retriever/indexers/faissindex.py:82-104` — the
   * reference builds its FAISS index with a trained coarse quantizer).
   *
   * @param nlist      coarse centroids = inverted lists. Scale rule: pick
   *                   nlist ≈ √N so lists stay ≈ √N rows — at 10^12 vectors,
   *                   nlist = 10^6 keeps each list ~10^6 rows, and the
   *                   candidate join on `cid` has 10^6 distinct keys (ample
   *                   reducer parallelism; AQE skew-split covers hot lists).
   * @param nprobe     lists probed per query (recall/cost knob).
   * @param iterations Lloyd refinement steps over the training sample.
   * @param maxTrain   training-sample bound. The quantizer is trained on a
   *                   DETERMINISTIC bounded sample collected to the driver —
   *                   the standard IVF practice (FAISS trains on a sample,
   *                   not the corpus) and the same bounded-collect contract
   *                   as [[bruteForceTopK]]'s query side. The corpus itself
   *                   is never collected.
   */
  case class IvfConfig(nlist: Int = 64, nprobe: Int = 4, iterations: Int = 5,
                       maxTrain: Int = 16384, seed: Long = 42L,
                       fallbackChunk: Int = 10000)

  /**
   * Deterministic k-means coarse quantizer. Sample = `maxTrain` rows in
   * `xxhash64(id, seed)` order (id tiebreak) — invariant under partitioning
   * and retries, like every sampler in this engine. Init = first `nlist`
   * sampled vectors; Lloyd assignment by max cosine with lowest-index
   * tiebreak; an emptied list keeps its previous centroid. Everything about
   * the model is a pure function of (corpus contents, cfg).
   */
  def trainCentroids(corpus: DataFrame, cfg: IvfConfig = IvfConfig(),
                     idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Float]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sample: Array[Array[Float]] = corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).cast("array<float>").as("vec"))
      .orderBy(xxhash64(col("id"), lit(cfg.seed)), col("id"))
      .limit(cfg.maxTrain)
      .as[(Long, Array[Float])].collect().map(_._2)
    require(sample.nonEmpty, "IVF quantizer training needs a non-empty corpus")
    val nlist = math.min(cfg.nlist, sample.length)
    val dim = sample(0).length
    var centroids = Array.tabulate(nlist)(i => sample(i).clone())
    for (_ <- 1 to cfg.iterations) {
      val sums = Array.fill(nlist)(new Array[Double](dim))
      val counts = new Array[Long](nlist)
      sample.foreach { v =>
        var best = 0
        var bestC = Double.NegativeInfinity
        var c = 0
        while (c < nlist) {
          val s = VectorKernels.cosineArr(centroids(c), v)
          if (s > bestC) { bestC = s; best = c } // strict > : lowest index wins ties
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      centroids = Array.tabulate(nlist) { c =>
        if (counts(c) == 0) centroids(c)
        else Array.tabulate(dim)(i => (sums(c)(i) / counts(c)).toFloat)
      }
    }
    centroids
  }

  /**
   * Approximate top-k via IVF — the k-means-coarse-quantizer scale path
   * (complementary to [[lshTopK]]: SRP-LSH is data-independent; IVF adapts
   * its partitioning to the corpus distribution, which wins on clustered
   * embeddings).
   *
   * Shape, corpus-vs-corpus (every row is a query):
   *  1. train the quantizer on a bounded deterministic sample (driver-side
   *     Lloyd — the model is nlist×dim floats, broadcast to executors);
   *  2. ONE map pass assigns each vector to its nearest centroid — the
   *     inverted lists are just a `cid` column, no explode (a vector lives
   *     in exactly one list, so candidates need no dedup);
   *  3. ONE map pass emits each query's `nprobe` nearest list ids;
   *  4. candidates = probes ⋈ lists on `cid` (nlist distinct keys — sized by
   *     the √N rule above), exact cosine re-rank, top-k window;
   *  5. always-k: queries whose probed lists held < k candidates finish via
   *     chunked exact [[bruteForceTopK]] (≤ `fallbackChunk` queries per
   *     chunk — bounded driver memory, never the whole sparse set).
   */
  def ivfTopK(corpus: DataFrame, k: Int, cfg: IvfConfig = IvfConfig(),
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val v = corpus.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("vec"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = trainCentroids(v, cfg, "id", "vec")
    val cB = spark.sparkContext.broadcast(cents)
    val nprobe = math.min(cfg.nprobe, cents.length)

    val assigned = v.as[(Long, Array[Float])].mapPartitions { it =>
      val cs = cB.value
      it.map { case (id, vec) =>
        var best = 0
        var bestC = Double.NegativeInfinity
        var c = 0
        while (c < cs.length) {
          val s = VectorKernels.cosineArr(cs(c), vec)
          if (s > bestC) { bestC = s; best = c }
          c += 1
        }
        (id, vec, best)
      }
    }.toDF("id", "vec", "cid")

    val probes = v.as[(Long, Array[Float])].mapPartitions { it =>
      val cs = cB.value
      it.flatMap { case (id, vec) =>
        val scored = Array.tabulate(cs.length)(c => (VectorKernels.cosineArr(cs(c), vec), c))
        scored.sortBy(t => (-t._1, t._2)).iterator.take(nprobe).map(t => (id, vec, t._2))
      }
    }.toDF("qid", "qvec", "cid")

    val cands = probes.join(assigned, "cid")
      .filter(col("id") =!= col("qid"))
      .select(col("qid").as("query_id"), col("id").as("neighbor_id"),
        cosine_sim(col("qvec"), col("vec")).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id").asc)
    // thin candidates checkpointed ONCE; per-query count rides the same
    // window partitioning (no extra exchange, groups bounded by rank ≤ k)
    // — see completeTopK for the recompute pathology this removes
    val cw = org.apache.spark.sql.expressions.Window.partitionBy($"query_id")
    val ranked = cands.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .withColumn("cnt", count(lit(1)).over(cw))
      .localCheckpoint(eager = true)
    val rankedBlocks =
      org.apache.spark.sql.graftbridge.ColumnBridge.checkpointedRdd(ranked).toSeq

    // always-k completion (same contract as lshTopK; the IVF-natural coarse
    // pass — re-probing with a bigger nprobe — is subsumed here by the
    // chunked exact residue because probed-list sparsity is a small-corpus /
    // tiny-list phenomenon: at the √N sizing a single list already holds ≫ k)
    val fullRanked = ranked.filter($"cnt" >= k).drop("cnt")
    val sparse = v.join(
        ranked.filter($"cnt" >= k).select($"query_id".as("id")), Seq("id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nSparse = sparse.count()
    val exact = if (nSparse == 0) Seq.empty[DataFrame] else {
      val nChunks = math.max(1, math.ceil(nSparse.toDouble / cfg.fallbackChunk).toInt)
      (0 until nChunks).map { c =>
        bruteForceTopK(v, sparse.filter(pmod(xxhash64($"id"), lit(nChunks)) === c),
            k, idCol = "id", vecCol = "vec")
          .select($"query_id", $"neighbor_id", $"cosine", $"rank")
          .localCheckpoint(eager = true)
      }
    }
    lastTopUpStats = TopUpStats(nSparse, nSparse, exact.size)
    if (nSparse > 0)
      System.err.println(s"[graft.ann] ivf always-k top-up: sparse=$nSparse " +
        s"exact_chunks=${exact.size} (corpus never collected)")
    val out = ((fullRanked +: exact).reduce(_ unionByName _)).localCheckpoint(eager = true)
    (rankedBlocks ++ exact.flatMap(
        org.apache.spark.sql.graftbridge.ColumnBridge.checkpointedRdd))
      .foreach(_.unpersist(blocking = false))
    sparse.unpersist(blocking = false)
    v.unpersist(blocking = false)
    out
  }

  def lshTopK(corpus: DataFrame, k: Int, cfg: LshConfig = LshConfig(),
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val v = corpus.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("vec"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val blocks = v.select(
      explode(srp_band_keys(col("vec"), cfg.bands, cfg.bits, cfg.seed)).as("key"),
      col("id"))
    val thin = graft.dedup.Dedup.blockPairs(blocks, struct(col("id")), cfg.maxBlock,
        cfg.purgeLimit, cfg.snWindow)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // bare build sides → one broadcast for both vector-attach joins
    // (ReuseExchange; see Blocking.attachFeatures)
    val va = v.as("lsh_a")
    val vb = v.as("lsh_b")
    val pairs = thin
      .join(va, col("id_a") === col("lsh_a.id"))
      .join(vb, col("id_b") === col("lsh_b.id"))
      .select(col("id_a"), col("id_b"),
        cosine_sim(col("lsh_a.vec"), col("lsh_b.vec")).as("cosine"))
    // symmetrize, rank per query id. ONE pass with a 2-element explode,
    // not a unionAll of two selects: union branches are separate plan
    // subtrees, so the unionAll shape re-executed the entire pair pipeline
    // (bucket pairs + both vector-attach broadcast probes + cosine) once
    // per direction — two identical 11 CPU-s stages in the bench profile
    // (guide §1.2: don't compute things twice).
    val sym = pairs.select(explode(array(
        struct(col("id_a").as("query_id"), col("id_b").as("neighbor_id"), col("cosine")),
        struct(col("id_b").as("query_id"), col("id_a").as("neighbor_id"), col("cosine")))).as("e"))
      .select(col("e.query_id").as("query_id"), col("e.neighbor_id").as("neighbor_id"),
        col("e.cosine").as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id").asc)
    // pin the rank window's fan-out: the candidate stream is sub-advisory
    // in BYTES (2.2 MB at bench sf0.1) but large in ROWS (~800k), and AQE's
    // byte-sized coalescing put the whole per-query sort on 2 tasks
    // (2.4 s wall). hash(query_id) at the session's shuffle-partition count
    // satisfies the window's distribution, so this moves the exchange
    // rather than adding one; explicit-N is exempt from coalescing and
    // cannot be elided here (no upstream query_id partitioning exists).
    val nParts = corpus.sparkSession.sessionState.conf.numShufflePartitions
    val ranked = sym.repartition(nParts, col("query_id"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)

    val (completed, scratch) = completeTopK(v, v, ranked, k, cfg)
    val out = completed.localCheckpoint(eager = true)
    scratch.foreach(_.unpersist(blocking = false)) // see queryIndex
    v.unpersist(blocking = false)
    out
  }
}
