package graft.cluster

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}

/**
 * Transitive clustering (SURVEY.md §2.5 A6): iterative large-star/small-star
 * connected components over the match-edge DataFrame — the Kiveris et al.
 * "Connected Components in MapReduce and Beyond" algorithm expressed as pure
 * window aggregates (no GraphX/RDD; `input_hint` forbids RDDs unless
 * forced, and GraphFrames isn't in /opt/spark/jars).
 *
 * This is the scale-out analog of the reference's window-merge transitivity
 * (`/root/reference/relik/inference/data/window/manager.py:213-246` unions
 * per-window predictions into document-level entities): above-threshold
 * edges are merged into components in O(log n) rounds.
 *
 * Scale notes (10^12 nodes):
 *  - each star application is ONE hash-shuffle-and-sort (a window min over
 *    `partitionBy(node)`), not a groupBy + join back — the join variant
 *    shuffles the symmetric edge set twice per star and costs two extra
 *    stage waves per iteration, which is pure serial floor on a converging
 *    loop. WindowExec's per-group buffer is spillable, so a celebrity node's
 *    neighborhood never has to fit in memory (it streams through one task —
 *    the same placement a hash join would give it);
 *  - `localCheckpoint` truncates lineage every round (else the plan doubles);
 *  - convergence is detected by a (count, xor-of-hashes) checksum — one
 *    cheap aggregate per round instead of a full `except`;
 *  - once the contracted edge set fits a fixed driver budget (2M thin
 *    pairs, see [[localFinishEdges]]) the component closure finishes
 *    with an in-memory union-find instead of more star rounds. The star
 *    loop contracts geometrically, so at 10^12 documents it still does all
 *    the heavy lifting (~8 rounds to reach 2M edges); what the local finish
 *    replaces is the TAIL — each remaining round is a full ~3-stage-wave
 *    job over a near-empty edge set, pure scheduling latency paid
 *    identically at every cluster size (the north-rule scaling
 *    measurement's largest fixed cost, profiled at ~2 s/iteration × 6
 *    iterations at bench scale). Same bounded-driver-step class as the
 *    ANN top-up chunking (graft.ann.Ann.completeTopK).
 *
 * Node ids come in exactly two types, one per id discipline in use:
 *  - STRING urls (cc_components query, dedup groups, batch-incremental
 *    ER): self-describing, zero-collision by construction, ~60-80 B per
 *    shuffled id;
 *  - 128-bit hash structs (the ER hot path, graft.pipeline.ErPipeline):
 *    STRUCT<h1:BIGINT,h2:BIGINT> = 16 B per id — the same two-lane xxhash64
 *    identity the dedup tier trusts (collision math at
 *    graft.dedup.Dedup.contentKey128: ~10^-15 expected corpus-wide false
 *    merges at 10^12 docs), with urls restored once at pipeline output.
 * The star loop's edge-set operations (window min, least/greatest,
 * distinct, xxhash64 checksum) are type-agnostic; the driver-side local
 * finish has one concrete implementation per type, and [[converge]]
 * rejects any other id type up front. cluster_id is the component's
 * minimum id under Spark's ordering for the id type (deterministic
 * labeling, SURVEY.md §7.4.4); string-id callers get the lexicographic min
 * url.
 */
object ConnectedComponents {

  /** Floor fan-in for the per-iteration edge checkpoint and loop shuffles.
    * The converging edge set is TINY relative to the input (thin id pairs),
    * but a checkpoint inheriting the full shuffle-partition count spawns
    * that many map tasks per downstream stage PER ITERATION — measured
    * ~1 s/iteration of pure scheduling on a 1.6k-edge graph (64 near-empty
    * tasks × ~6 stages × 6 iterations is the serial floor the north-rule
    * scaling measurement pays at every cluster size). */
  private val ccFanIn = 16

  /** Target thin-edge rows per loop shuffle partition (~60-100 MB of
    * (url, url) pairs). */
  private val rowsPerPartition = 500000L

  /** Driver budget for the union-find finish: edge sets at or below this
    * row count are collected and closed in memory. 2M (url, url) pairs at
    * ~60 B/url is ≲ 250 MB of driver heap transiently — the same order as
    * one collected ANN top-up chunk, and two orders below the driver heap
    * any production Spark cluster runs with. Callers pass 0 as
    * `localEdgeBudget` to disable the local finish (distributed star rounds
    * all the way to fixpoint — the path the property tests pin against the
    * union-find oracle). */
  private[cluster] val localFinishEdges = 2000000L

  /** Shuffle-partition count for one loop iteration, sized from the CURRENT
    * edge count: `max(ccFanIn, edges / rowsPerPartition)`. At bench scale
    * (≤ a few hundred k edges) this is the fixed small fan-in that cut the
    * measured serial floor (scheduling ~1 s/iteration of near-empty tasks);
    * at web scale (10^9+ edges) the first large-star/small-star iterations
    * get data-proportional parallelism instead of funnelling the full edge
    * set through 16 reduce tasks, and the count DECAYS with the edge set as
    * contraction converges. Capped at 200k partitions (2 shuffle-file-count
    * orders above any sane cluster default) purely as an overflow guard. */
  private[cluster] def loopShufflePartitions(edgeCount: Long): Int = {
    val byData = (edgeCount + rowsPerPartition - 1) / rowsPerPartition
    math.max(ccFanIn.toLong, math.min(byData, 200000L)).toInt
  }

  /** Result of [[converge]]: `assign` maps child url → component root for
    * every NON-ROOT node in the edge set ( + root self-rows iff
    * `rootsIncluded` — the local-finish path knows them for free, the
    * distributed fixpoint does not list roots as children). `lookup` is the
    * local-finish broadcast labeling as an expression builder (absent node →
    * itself), letting [[assignAll]] label a node universe with a narrow map
    * instead of a join. `cleanup` frees checkpoint blocks / broadcasts and
    * must run only after the caller has materialized what it needs. */
  private final case class Converged(
      assign: DataFrame,
      rootsIncluded: Boolean,
      lookup: Option[Column => Column],
      cleanup: () => Unit)

  /**
   * @param edges DataFrame with two id columns (default url_a/url_b), both
   *        STRING or both STRUCT<long,long>
   * @return (url, cluster_id) for every node that appears in `edges`
   */
  def run(edges: DataFrame, aCol: String = "url_a", bCol: String = "url_b",
          maxIterations: Int = 50,
          localEdgeBudget: Long = localFinishEdges,
          edgesCanonical: Boolean = false): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    val res = converge(edges, aCol, bCol, maxIterations, localEdgeBudget, edgesCanonical)
    val out =
      if (res.rootsIncluded) res.assign.localCheckpoint(eager = true)
      else {
        // converged star edges point child -> root; roots (parents that are
        // nobody's child) map to themselves
        val roots = res.assign.select($"cluster_id".as("url"))
          .distinct()
          .join(res.assign, Seq("url"), "left_anti")
          .select($"url", $"url".as("cluster_id"))
        res.assign.unionByName(roots).localCheckpoint(eager = true)
      }
    res.cleanup()
    out
  }

  /** Star-contraction loop (with bounded union-find finish) → child → root
    * assignment; see [[Converged]] for the root-row contract.
    *
    * @param edgesCanonical caller GUARANTEES `edges` is already a distinct
    *        pair set with no self-loops (the pair-generation paths all end
    *        in a canonical-order dropDuplicates, and scoring only filters) —
    *        the defensive `filter + distinct` here is then a full extra
    *        exchange of the edge set for zero removed rows (guide §2.4:
    *        "a distinct on data that is already unique"), skipped. The
    *        algorithm itself never requires input uniqueness (the first
    *        star round's distinct re-canonicalizes anyway); the flag only
    *        drops redundant work, never changes the result. */
  private def converge(edges: DataFrame, aCol: String, bCol: String,
                       maxIterations: Int, localEdgeBudget: Long,
                       edgesCanonical: Boolean = false): Converged = {
    val idType = edges.schema(aCol).dataType
    require(idType == StringType || isId128(idType),
      s"connected components needs STRING or STRUCT<long,long> node ids, " +
        s"got ${idType.simpleString}")
    val spark = edges.sparkSession
    import spark.implicits._

    // canonical undirected edge set (u > v convention dropped — keep both).
    // NOT coalesced: a narrow coalesce here would cap the FUSED final stage
    // of the whole upstream pipeline (join + score + dedup partials land in
    // the same stage) at ccFanIn tasks — measured 600+ CPU-seconds starved
    // onto 16 tasks at 400k docs. Only the in-loop checkpoints (sized from
    // the shrinking edge count) use the small fan-in.
    val renamed = edges.select(col(aCol).as("u"), col(bCol).as("v"))
    val e0 = (if (edgesCanonical) renamed
              else renamed.filter($"u" =!= $"v").distinct())
      .localCheckpoint(eager = true)

    val initialEdges = e0.count() // cheap: counts the checkpoint blocks
    val e0Blocks = org.apache.spark.sql.graftbridge.ColumnBridge.checkpointedRdd(e0)
    def freeE0(): Unit = e0Blocks.foreach(_.unpersist(blocking = false))
    if (initialEdges == 0L)
      return Converged(
        e0.select($"u".as("url"), $"v".as("cluster_id")), rootsIncluded = false,
        None, () => freeE0())
    if (initialEdges <= localEdgeBudget && localEdgeBudget > 0L) {
      val (assign, look, done) = localFinish(spark, e0)
      // assign reads e0 (its node set) — blocks stay alive until the caller
      // materializes, then cleanup frees them with the label broadcast
      return Converged(assign, rootsIncluded = true, Some(look),
        () => { done(); freeE0() })
    }

    // The iterative loop's serial floor is (stage waves) × (per-wave
    // scheduling latency), paid identically at every cluster size — the
    // north-rule scaling measurement's biggest fixed cost. Two levers:
    //  - shuffle partitions sized from the CURRENT edge count (see
    //    loopShufflePartitions): near-empty reduce tasks per wave are pure
    //    scheduling overhead at bench scale, while a pinned small constant
    //    would funnel a web-scale edge set through 16 tasks;
    //  - AQE off: adaptive execution materializes and replans at every
    //    exchange — the right call for the big one-shot stages upstream,
    //    pure per-wave latency on a fixed-shape iteration.
    // Both are scoped to a CLONED session (spark.newSession() shares the
    // SparkContext and the builder's initial conf but has its own mutable
    // SQL conf), so concurrent queries on the caller's session never plan
    // under the loop's degraded config and nested runs can't stomp each
    // other's settings. The checkpointed edge RDD is re-bound to the clone
    // without copying (ColumnBridge.rebindToSession).
    val loop = spark.newSession()
    loop.conf.set("spark.sql.adaptive.enabled", "false")
    var parts = loopShufflePartitions(initialEdges)
    loop.conf.set("spark.sql.shuffle.partitions", parts.toString)
    var e = org.apache.spark.sql.graftbridge.ColumnBridge.rebindToSession(loop, e0)

    var converged = false
    var iter = 0
    var lastSig: (Long, Long) = (-1L, -1L)
    var prevBlocks: Option[org.apache.spark.rdd.RDD[_]] =
      org.apache.spark.sql.graftbridge.ColumnBridge.checkpointedRdd(e0)

    // One large-star + small-star application (Kiveris et al.). Each star
    // is a single window min: one shuffle + sort on the star's center node,
    // versus the groupBy-min + join-back formulation's two shuffles of the
    // symmetric edge set and two extra stage waves per star.
    def starRound(in: DataFrame): DataFrame = {
      // ---- large-star: for every u, m = min(N(u) ∪ {u});
      //      emit (v, m) for every neighbor v > u.
      //      Output rows satisfy u > v by construction: the emitted pair is
      //      (v, least(min N(u), u)) with v > u ≥ least(..., u).
      val sym = in.select($"u", $"v").unionAll(in.select($"v".as("u"), $"u".as("v")))
      val large = sym
        .withColumn("mv", min($"v").over(Window.partitionBy($"u")))
        .filter($"v" > $"u")
        .select($"v".as("u"), least($"mv", $"u").as("v"))

      // ---- small-star: edges already point larger -> smaller; for every
      //      u, m = min(N⁻(u)); emit (v, m) for v ∈ N⁻(u) and (u, m) once.
      //      first_value over the v-sorted full frame IS the group min, and
      //      sharing the (partitionBy, orderBy) spec with row_number keeps
      //      both in one window exchange+sort; the rn=1 row carries the
      //      extra (u, m) emission so no second aggregate/join is needed.
      val wS = Window.partitionBy($"u").orderBy($"v")
      val full = wS.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      large
        .withColumn("m", first($"v").over(full))
        .withColumn("rn", row_number().over(wS))
        .select(explode(when($"rn" === 1,
            array(struct($"v".as("nu"), $"m".as("nv")),
                  struct($"u".as("nu"), $"m".as("nv"))))
          .otherwise(array(struct($"v".as("nu"), $"m".as("nv"))))).as("p"))
        .select($"p.nu".as("u"), $"p.nv".as("v"))
        .filter($"u" =!= $"v")
        .distinct()
    }

    while (!converged && iter < maxIterations) {
      val small = starRound(e)

      // lazy checkpoint: the checksum aggregate below materializes it, so
      // each loop pass is ONE job instead of checkpoint-then-aggregate
      val next = small.coalesce(parts).localCheckpoint(eager = false)
      // xor-fold checksum: order-independent, overflow-free under ANSI mode
      val sig = next
        .agg(count(lit(1)).as("c"),
          coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)).as("s"))
        .as[(Long, Long)].first()
      converged = sig == lastSig
      // `next` is materialized by the checksum job above; the previous
      // round's checkpoint blocks are dead — free them now instead of
      // waiting for the async ContextCleaner (GC-stall avoidance)
      prevBlocks.foreach(_.unpersist(blocking = false))
      prevBlocks = org.apache.spark.sql.graftbridge.ColumnBridge.checkpointedRdd(next)
      lastSig = sig
      e = next
      iter += 1

      // Contracted under the driver budget: close the remaining components
      // in memory. Star rounds only ever shrink the surviving-node set by
      // dropping nodes already equal to their component min, so union-find
      // over the CURRENT edge set yields exactly the fixpoint's components.
      if (!converged && sig._1 <= localEdgeBudget && localEdgeBudget > 0L) {
        val (assign, look, done) = localFinish(spark, next)
        val blocksNow = prevBlocks
        return Converged(assign, rootsIncluded = true, Some(look),
          () => { done(); blocksNow.foreach(_.unpersist(blocking = false)) })
      }
      // decay the loop parallelism with the contracting edge set (the
      // checksum already counted it — no extra job)
      val nextParts = loopShufflePartitions(sig._1)
      if (nextParts != parts) {
        parts = nextParts
        loop.conf.set("spark.sql.shuffle.partitions", parts.toString)
      }
    }
    if (!converged)
      // star-contraction halves component diameter per round, so 50 rounds
      // covers diameters ~2^50; hitting this means pathological input, and
      // silently returning would split components across cluster_ids
      throw new IllegalStateException(
        s"connected components did not converge after $maxIterations iterations " +
        s"(edges=${lastSig._1}); raise maxIterations or check the edge set")

    val assign = e.select(
        greatest($"u", $"v").as("url"), least($"u", $"v").as("root"))
      .groupBy($"url").agg(min($"root").as("cluster_id"))
    val finalBlocks = prevBlocks
    Converged(assign, rootsIncluded = false, None,
      () => finalBlocks.foreach(_.unpersist(blocking = false)))
  }

  private def isId128(dt: DataType): Boolean = dt match {
    case st: StructType => st.fields.length == 2 && st.fields.forall(_.dataType == LongType)
    case _ => false
  }

  /** Bounded driver-side closure: collect ≤ [[localFinishEdges]] thin pairs,
    * close them with [[componentMins]], label every component by its minimum
    * id (the loop's deterministic labeling contract), and BROADCAST the
    * node → label map instead of re-creating a LocalRelation of O(nodes)
    * rows on the driver (measured 4.5 s of single-threaded encode + a
    * downstream shuffle join at 940k edges; the broadcast + narrow lookup
    * costs ~1 s and no shuffle). The edge column's type picks one of the two
    * concrete finishes, [[localFinishString]] or [[localFinish128]]. Returns
    * the assignment over the edge set's own (distributed, distinct) node
    * set, the lookup expression builder for callers with a wider node
    * universe, and the broadcast's destroy callback. Replaces the geometric
    * tail of near-empty star rounds whose per-round cost is pure stage-wave
    * latency on ANY cluster size.
    *
    * Driver-memory contract: the collect is bounded by [[localFinishEdges]]
    * rows, but the BYTES depend on the id width — 2M (url, url) pairs at
    * ~80 B/url approach the default 1g `spark.driver.maxResultSize`, which
    * is why graft.ops.Sessions raises it to 4g in every production session
    * (16-byte hash ids sit two orders below the ceiling). Callers running
    * bare sessions near the 2M budget must either raise maxResultSize or
    * pass a smaller `localEdgeBudget`. */
  private def localFinish(spark: SparkSession, edges: DataFrame)
      : (DataFrame, Column => Column, () => Unit) = {
    val (look, destroy) = edges.schema("u").dataType match {
      case StringType => localFinishString(spark, edges)
      case st: StructType => localFinish128(spark, edges, st)
    }
    val assign = edges.select(col("u").as("url")).unionAll(edges.select(col("v").as("url")))
      .distinct()
      .select(col("url"), look(col("url")).as("cluster_id"))
    (assign, (c: Column) => look(c), destroy)
  }

  /** Union-find with path compression over dense node indices `0 until n`
    * joined by the edges `(ea(i), eb(i))`; returns, for every node, the
    * index of its component's minimum node under `less`. */
  private def componentMins(n: Int, ea: Array[Int], eb: Array[Int],
                            less: (Int, Int) => Boolean): Array[Int] = {
    val parent = Array.range(0, n)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    var e = 0
    while (e < ea.length) {
      val ra = find(ea(e)); val rb = find(eb(e))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      e += 1
    }
    val minIdx = Array.fill(n)(-1)
    var i = 0
    while (i < n) {
      val r = find(i)
      if (minIdx(r) < 0 || less(i, minIdx(r))) minIdx(r) = i
      i += 1
    }
    Array.tabulate(n)(i => minIdx(find(i)))
  }

  /** [[localFinish]] for STRING node ids (dedup groups, cc_components,
    * batch-incremental ER). Labels compare as Java strings — identical to
    * Spark's UTF8String binary order for the ASCII urls this pipeline
    * produces, so both finishes label a component alike. */
  private def localFinishString(spark: SparkSession, edges: DataFrame)
      : (UserDefinedFunction, () => Unit) = {
    // Rows in, java-UDF overload out: the typed form (a tuple-encoder
    // collect and a Scala UDF) measured ~60 ms slower per closure of a
    // few-thousand-edge dedup group set on a 4-vCPU host
    val pairs = edges.select(col("u"), col("v")).collect()
    val idx = new java.util.HashMap[String, Integer](pairs.length * 2)
    val names = new scala.collection.mutable.ArrayBuffer[String](pairs.length)
    def id(s: String): Int = {
      val known = idx.get(s)
      if (known != null) known
      else { idx.put(s, names.length); names += s; names.length - 1 }
    }
    val ea = new Array[Int](pairs.length)
    val eb = new Array[Int](pairs.length)
    var e = 0
    while (e < pairs.length) {
      ea(e) = id(pairs(e).getString(0)); eb(e) = id(pairs(e).getString(1))
      e += 1
    }
    val mins = componentMins(names.length, ea, eb, (i, j) => names(i) < names(j))
    // node → component label, roots included as self-rows; ≤ 2 × budget
    // entries ≈ the same order of driver memory as the collected pairs
    val label = new java.util.HashMap[String, String](names.length * 2)
    var i = 0
    while (i < names.length) { label.put(names(i), names(mins(i))); i += 1 }
    val bc = spark.sparkContext.broadcast(label)
    val look = udf(new org.apache.spark.sql.api.java.UDF1[String, String] {
      override def call(u: String): String = {
        val v = bc.value.get(u)
        if (v == null) u else v // absent node = its own singleton component
      }
    }, StringType)
    (look, () => bc.destroy())
  }

  /** [[localFinish]] for STRUCT<long,long> node ids (the ER hot path):
    * edges collect as four primitive longs per row, the node→dense-id map
    * is one open-addressed probe table in flat long arrays, and the
    * broadcast ships five primitive arrays — ~0 boxing. A boxed
    * HashMap[Row, Row] broadcast through java serialization measured a
    * 7.6 s single-threaded driver gap at the 2 M-edge budget (900k-doc
    * corpus) — pure core-count-independent floor that caps the N-vs-4N
    * scaling ratio. */
  private def localFinish128(spark: SparkSession, edges: DataFrame, st: StructType)
      : (UserDefinedFunction, () => Unit) = {
    import spark.implicits._
    val (f0, f1) = (st.fields(0).name, st.fields(1).name)
    val quads = edges
      .select(col("u").getField(f0), col("u").getField(f1),
        col("v").getField(f0), col("v").getField(f1))
      .as[(Long, Long, Long, Long)].collect()

    val nEdges = quads.length
    val maxNodes = math.max(2, 2 * nEdges)
    // open-addressed (hi, lo) → dense-int map; capacity ≥ 2× max distinct
    // nodes and a power of two, so load factor stays ≤ 0.5
    var cap = 16
    while (cap < maxNodes * 2) cap <<= 1
    val mask = cap - 1
    val slotHi = new Array[Long](cap)
    val slotLo = new Array[Long](cap)
    val slotId = new Array[Int](cap); java.util.Arrays.fill(slotId, -1)
    val nameHi = new Array[Long](maxNodes)
    val nameLo = new Array[Long](maxNodes)
    var nNames = 0
    @inline def probe(hi: Long, lo: Long): Int = {
      var h = (hi ^ (lo * 0x9e3779b97f4a7c15L))
      h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
      var s = h.toInt & mask
      while (slotId(s) >= 0 && (slotHi(s) != hi || slotLo(s) != lo)) s = (s + 1) & mask
      s
    }
    def id(hi: Long, lo: Long): Int = {
      val s = probe(hi, lo)
      if (slotId(s) >= 0) slotId(s)
      else {
        slotHi(s) = hi; slotLo(s) = lo; slotId(s) = nNames
        nameHi(nNames) = hi; nameLo(nNames) = lo; nNames += 1
        nNames - 1
      }
    }
    val ea = new Array[Int](nEdges)
    val eb = new Array[Int](nEdges)
    var e = 0
    while (e < nEdges) {
      val (ah, al, bh, bl) = quads(e)
      ea(e) = id(ah, al); eb(e) = id(bh, bl)
      e += 1
    }
    // min-id label: signed field-by-field compare, identical to the
    // distributed path's min(struct)
    val mins = componentMins(nNames, ea, eb, (i, j) =>
      nameHi(i) < nameHi(j) || (nameHi(i) == nameHi(j) && nameLo(i) < nameLo(j)))
    val labHi = new Array[Long](nNames)
    val labLo = new Array[Long](nNames)
    var i = 0
    while (i < nNames) {
      labHi(i) = nameHi(mins(i)); labLo(i) = nameLo(mins(i))
      i += 1
    }
    val bc = spark.sparkContext.broadcast((slotHi, slotLo, slotId, labHi, labLo, mask))
    // java-UDF overload: it takes the return type explicitly, so the label
    // struct keeps the caller's field names
    val look = udf(new org.apache.spark.sql.api.java.UDF1[Row, Row] {
      override def call(row: Row): Row = {
        if (row == null) return row
        val hi = row.getLong(0); val lo = row.getLong(1)
        val (sh, sl, sid, lh, ll, m) = bc.value
        var h = (hi ^ (lo * 0x9e3779b97f4a7c15L))
        h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
        var s = h.toInt & m
        while (sid(s) >= 0 && (sh(s) != hi || sl(s) != lo)) s = (s + 1) & m
        val v = sid(s)
        if (v < 0) row // absent node = its own singleton component
        else Row(lh(v), ll(v))
      }
    }, st)
    (look, () => bc.destroy())
  }

  /**
   * Full assignment over a node universe: nodes absent from `edges` (and
   * component roots, which the converged star edges never list as a child)
   * become their own cluster_id via the coalesce-to-self — this skips the
   * roots anti-join `run` needs on the distributed path, two shuffles fewer
   * on the flagship path.
   *
   * On the local-finish path the universe is labeled by the broadcast map
   * directly (narrow projection, materialized so the broadcast is destroyed
   * NOW); on the distributed path the converged assignment is materialized
   * (O(nodes-in-edges) thin rows) and left-joined, so the final iteration's
   * checkpoint blocks are freed NOW — a long-lived bench JVM otherwise
   * accumulates one edge-set worth of storage per invocation.
   */
  def assignAll(nodes: DataFrame, edges: DataFrame, urlCol: String = "url",
                localEdgeBudget: Long = localFinishEdges,
                edgesCanonical: Boolean = false): DataFrame =
    assignAllKeyed(nodes.select(col(urlCol).as("url")), edges, "url",
      localEdgeBudget, edgesCanonical)

  /** [[assignAll]] preserving every column of `nodes`: clusters are closed
    * over `nodes(idCol)` (matched against the edge endpoints) and appended
    * as `cluster_id` of the same type. This is what the 128-bit-id ER path
    * needs — the node universe carries (url, nid) and the url must survive
    * to relabel the hash clusters back to urls WITHOUT a second join
    * against a dictionary. */
  def assignAllKeyed(nodes: DataFrame, edges: DataFrame, idCol: String,
                     localEdgeBudget: Long = localFinishEdges,
                     edgesCanonical: Boolean = false): DataFrame = {
    val res = converge(edges, "url_a", "url_b", maxIterations = 50,
      localEdgeBudget, edgesCanonical)
    res.lookup match {
      case Some(look) =>
        // local-finish path: label the universe with the broadcast map — a
        // narrow projection, zero shuffles (absent node → itself inside the
        // lookup). Materialized so the broadcast can be destroyed NOW.
        val out = nodes.withColumn("cluster_id", look(col(idCol)))
          .localCheckpoint(eager = true)
        res.cleanup()
        out
      case None =>
        val cc = res.assign
          .select(col("url").as(idCol), col("cluster_id"))
          .localCheckpoint(eager = true)
        res.cleanup()
        nodes
          .join(cc, Seq(idCol), "left")
          .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
    }
  }

  /**
   * Incremental cluster maintenance: fold a DELTA edge batch into an
   * existing `(id, cluster_id)` assignment, recomputing only the components
   * the delta touches. This is how a 10^12-document corpus is actually
   * operated — a daily Common-Crawl increment must merge into yesterday's
   * clusters without re-clustering the world (the reference's serve-time
   * analog is incremental index update; here it is the batch-side analog
   * of [[graft.streaming.EntityAssign]], which ROUTES new pages to frozen
   * clusters but never merges clusters with each other).
   *
   * Semantics: returns exactly `run(starEdges(assignment) ∪ delta)` over
   * the union graph — min-id component labels, one row per node of
   * `assignment ∪ delta` — but does the star-loop work only on the
   * affected subgraph:
   *
   *   1. delta node set D (thin, distinct);
   *   2. touched labels L = labels of assignment rows whose id ∈ D (semi
   *      join; |L| ≤ |D| ≪ |assignment| in the intended regime);
   *   3. affected star edges = assignment semi-joined on label ∈ L; the
   *      UNTOUCHED remainder (anti join on the same L) is emitted as-is —
   *      its labels cannot change (no delta edge reaches any of its nodes,
   *      and labels are component-local minima);
   *   4. the star loop / union-find finish runs over (affected ∪ delta)
   *      only. Existing components enter as depth-1 stars (child → old
   *      label), so contraction converges in O(log) of the DELTA
   *      neighborhood, not of the corpus.
   *
   * Label stability: an untouched component keeps its label verbatim. A
   * touched component's new label is the min id over every merged piece —
   * the same deterministic labeling a from-scratch [[run]] over the union
   * graph produces (equality is the ConnectedComponentsSpec property).
   *
   * Scale shape: the full assignment is scanned twice (semi + anti), both
   * as joins against L, which Catalyst broadcasts when the delta is small
   * (the intended daily-increment case) and shuffles otherwise — no hint
   * is forced, so a pathological corpus-sized delta degrades to shuffle
   * joins rather than a driver OOM (at which point a from-scratch [[run]]
   * is the honest tool). No driver-side collection anywhere.
   *
   * @param assignment (idCol, labelCol) rows, the output contract of
   *                   [[run]]/[[assignAll]] (root self-rows included or
   *                   not — both work: roots are reachable from their
   *                   children's star edges, and a singleton's self-row
   *                   survives either as an untouched row or via D).
   * @param deltaEdges new (aCol, bCol) match edges; endpoints need not
   *                   appear in `assignment` (brand-new documents form
   *                   new components).
   */
  def incremental(assignment: DataFrame, deltaEdges: DataFrame,
                  idCol: String = "url", labelCol: String = "cluster_id",
                  aCol: String = "url_a", bCol: String = "url_b",
                  maxIterations: Int = 50,
                  localEdgeBudget: Long = localFinishEdges): DataFrame = {
    val delta = deltaEdges.select(col(aCol).as("u"), col(bCol).as("v"))
    val deltaNodes = delta.select(col("u").as(idCol))
      .unionByName(delta.select(col("v").as(idCol)))
      .distinct()
    val touched = assignment
      .join(deltaNodes, Seq(idCol), "left_semi")
      .select(col(labelCol)).distinct()
      // both downstream joins consume `touched`; materialize the semi join
      // once instead of re-running it per consumer (and give the joins
      // exact stats to pick broadcast from)
      .localCheckpoint(eager = true)
    val untouched = assignment.join(touched, Seq(labelCol), "left_anti")
    val affectedStars = assignment
      .join(touched, Seq(labelCol), "left_semi")
      .select(col(idCol).as("u"), col(labelCol).as("v"))
    val merged = run(affectedStars.unionByName(delta), "u", "v",
        maxIterations, localEdgeBudget)
      .select(col("url").as(idCol), col("cluster_id").as(labelCol))
    untouched.select(col(idCol), col(labelCol)).unionByName(merged)
  }
}
