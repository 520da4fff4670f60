package graft.cluster

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}

import graft.functions.GraftFunctions.id128

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
 * One node-id type: the 128-bit hash struct STRUCT<h1:BIGINT,h2:BIGINT>
 * of [[graft.functions.GraftFunctions.id128]], 16 B per shuffled id — the
 * same two-lane xxhash64 identity the dedup tier trusts (collision math at
 * graft.dedup.Dedup.contentKey128: ~10^-15 expected corpus-wide false
 * merges at 10^12 docs). The star loop and the driver-side local finish
 * see only these structs, and [[assignAllKeyed]] rejects any other edge
 * type up front; its cluster_id is the component's minimum struct id. The
 * ER hot path keys on the structs from blocking onward. The string entry
 * points ([[run]], [[assignAll]], [[incremental]]) hash their url ids in at
 * the edge, and [[clusterByMinUrl]] labels each component by Spark's `min`
 * over its original urls (UTF-8 byte order), the labelling ER's output
 * uses too — so a label never depends on which finish closed the
 * component (deterministic labeling, SURVEY.md §7.4.4).
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

  /** Target thin-edge rows per loop shuffle partition (~16 MB of 16-byte
    * id pairs). */
  private val rowsPerPartition = 500000L

  /** Star rounds before the loop gives up. Star contraction halves the
    * component diameter per round, so 50 rounds cover diameters ~2^50. */
  private val maxIterations = 50

  /** Driver budget for the union-find finish: edge sets at or below this
    * row count are collected and closed in memory. 2M id pairs collect as
    * 64 MB of primitive longs (plus the probe tables built from them) —
    * the same order as one collected ANN top-up chunk, and two orders
    * below the driver heap any production Spark cluster runs with.
    * Callers pass 0 as `localEdgeBudget` to disable the local finish
    * (distributed star rounds all the way to fixpoint — the path the
    * property tests pin against the union-find oracle). */
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

  /**
   * @param edges DataFrame with two STRING url columns (default url_a/url_b);
   *        an edge with a null endpoint links nothing and is dropped
   * @return (url, cluster_id) for every node of the remaining edges, materialized;
   *         cluster_id is the component's minimum url
   */
  def run(edges: DataFrame, aCol: String = "url_a", bCol: String = "url_b",
          localEdgeBudget: Long = localFinishEdges,
          edgesCanonical: Boolean = false): DataFrame = {
    requireUrlIds(edges.schema(aCol).dataType)
    // materialized once: the endpoint list and the hashed edge set both
    // read it, and the caller's edge plan (a scoring join, say) runs once
    val e = dropNullEdges(edges.select(col(aCol).as("url_a"), col(bCol).as("url_b")))
      .localCheckpoint(eager = true)
    val ends = e.select(col("url_a").as("url"))
      .unionAll(e.select(col("url_b").as("url")))
      .distinct()
    // materialized, so the callers' repeated reads (incremental reads its
    // assignment three times) scan blocks instead of re-running the
    // relabel, and the string edge blocks are freed NOW
    val out = assignAll(ends, e, "url", localEdgeBudget, edgesCanonical)
      .localCheckpoint(eager = true)
    ColumnBridge.checkpointedRdd(e).foreach(_.unpersist(blocking = false))
    out
  }

  /**
   * Full assignment over a STRING url universe `nodes(urlCol)`, closed over
   * the STRING url edges `url_a`/`url_b`: (url, cluster_id) per node row,
   * cluster_id the component's minimum url. Nodes absent from `edges` are
   * their own cluster; an edge with a null endpoint is dropped (its hash
   * would be a real id, merging every node linked to null). Both sides are
   * hashed in with `id128` and labelled back by [[clusterByMinUrl]].
   */
  def assignAll(nodes: DataFrame, edges: DataFrame, urlCol: String = "url",
                localEdgeBudget: Long = localFinishEdges,
                edgesCanonical: Boolean = false): DataFrame = {
    requireUrlIds(edges.schema("url_a").dataType)
    clusterByMinUrl(nodes.select(col(urlCol).as("url")),
      dropNullEdges(edges).select(
        id128(col("url_a")).as("url_a"), id128(col("url_b")).as("url_b")),
      localEdgeBudget, edgesCanonical)
  }

  private def requireUrlIds(dt: DataType): Unit =
    require(dt == StringType, "connected components needs STRING url ids " +
      s"(or STRUCT<long,long> ids through assignAllKeyed), got ${dt.simpleString}")

  private def dropNullEdges(edges: DataFrame): DataFrame =
    edges.filter(col("url_a").isNotNull && col("url_b").isNotNull)

  /** Close the id-space `edges` over every url of `urls` (hashed here to its
    * 128-bit node id) and label each component by its minimum member url:
    * (url, cluster_id: url). Spark's `min` ranks the urls, so the label is
    * the same whichever finish closed the component. The relabel is two
    * thin shuffles at OUTPUT scale (one map-side-combined min per component
    * + one join of the n-row assignment against the per-component labels),
    * paid once — versus the id-width savings paid on every hot-path
    * shuffle. */
  private[graft] def clusterByMinUrl(urls: DataFrame, edges: DataFrame,
      localEdgeBudget: Long = localFinishEdges,
      edgesCanonical: Boolean = false): DataFrame = {
    val assigned = assignAllKeyed(urls.select(col("url"), id128(col("url")).as("nid")),
      edges, "nid", localEdgeBudget, edgesCanonical)
    val labels = assigned.groupBy(col("cluster_id"))
      .agg(min(col("url")).as("cluster_url"))
    assigned.join(labels, Seq("cluster_id"))
      .select(col("url"), col("cluster_url").as("cluster_id"))
  }

  /**
   * Full assignment over a node universe of 128-bit ids, preserving every
   * column of `nodes`: clusters are closed over `nodes(idCol)` (matched
   * against the STRUCT<long,long> endpoints `url_a`/`url_b` of `edges`) and
   * appended as `cluster_id`, the component's minimum id. Nodes absent
   * from `edges` (and component roots, which the converged star edges
   * never list as a child) become their own cluster_id. The ER path passes
   * (url, nid) nodes, so the url survives to relabel the hash clusters back
   * to urls WITHOUT a second join against a dictionary.
   *
   * The star loop contracts the edge set until it fits the driver budget,
   * then the local finish closes the rest. On the local-finish path the
   * universe is labeled by the broadcast map directly (narrow projection,
   * materialized so the broadcast is destroyed NOW); on the distributed
   * path the converged assignment is materialized (O(nodes-in-edges) thin
   * rows) and left-joined with a coalesce-to-self, so the final iteration's
   * checkpoint blocks are freed NOW — a long-lived bench JVM otherwise
   * accumulates one edge-set worth of storage per invocation.
   *
   * @param edgesCanonical caller GUARANTEES `edges` is already a distinct
   *        pair set with no self-loops (the pair-generation paths all end
   *        in a canonical-order dropDuplicates, and scoring only filters) —
   *        the defensive `filter + distinct` here is then a full extra
   *        exchange of the edge set for zero removed rows (guide §2.4:
   *        "a distinct on data that is already unique"), skipped. The
   *        algorithm itself never requires input uniqueness (the first
   *        star round's distinct re-canonicalizes anyway); the flag only
   *        drops redundant work, never changes the result.
   */
  def assignAllKeyed(nodes: DataFrame, edges: DataFrame, idCol: String,
                     localEdgeBudget: Long = localFinishEdges,
                     edgesCanonical: Boolean = false): DataFrame = {
    val idType = edges.schema("url_a").dataType
    require(isId128(idType), "connected components needs STRUCT<long,long> node ids " +
      s"(STRING urls through run/assignAll/incremental), got ${idType.simpleString}")
    val spark = edges.sparkSession
    import spark.implicits._

    // canonical undirected edge set (u > v convention dropped — keep both).
    // NOT coalesced: a narrow coalesce here would cap the FUSED final stage
    // of the whole upstream pipeline (join + score + dedup partials land in
    // the same stage) at ccFanIn tasks — measured 600+ CPU-seconds starved
    // onto 16 tasks at 400k docs. Only the in-loop checkpoints (sized from
    // the shrinking edge count) use the small fan-in.
    val renamed = edges.select($"url_a".as("u"), $"url_b".as("v"))
    val e0 = (if (edgesCanonical) renamed
              else renamed.filter($"u" =!= $"v").distinct())
      .localCheckpoint(eager = true)

    val initialEdges = e0.count() // cheap: counts the checkpoint blocks
    // checkpoint blocks of the newest edge set; freed once nothing reads them
    var prevBlocks = ColumnBridge.checkpointedRdd(e0)
    def freeBlocks(): Unit = prevBlocks.foreach(_.unpersist(blocking = false))
    // local-finish path: label the universe with the broadcast map — a
    // narrow projection, zero shuffles (absent node → itself inside the
    // lookup). Materialized so the broadcast and the edge blocks can be
    // freed NOW.
    def finishLocally(e: DataFrame): DataFrame = {
      val (look, destroy) = localFinish(spark, e)
      val out = nodes.withColumn("cluster_id", look(col(idCol)))
        .localCheckpoint(eager = true)
      destroy()
      freeBlocks()
      out
    }
    if (initialEdges == 0L) {
      freeBlocks()
      return nodes.withColumn("cluster_id", col(idCol))
    }
    if (initialEdges <= localEdgeBudget && localEdgeBudget > 0L)
      return finishLocally(e0)

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
    var e = ColumnBridge.rebindToSession(loop, e0)

    var converged = false
    var iter = 0
    var lastSig: (Long, Long) = (-1L, -1L)

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
      prevBlocks = ColumnBridge.checkpointedRdd(next)
      lastSig = sig
      e = next
      iter += 1

      // Contracted under the driver budget: close the remaining components
      // in memory. Star rounds only ever shrink the surviving-node set by
      // dropping nodes already equal to their component min, so union-find
      // over the CURRENT edge set yields exactly the fixpoint's components.
      if (!converged && sig._1 <= localEdgeBudget && localEdgeBudget > 0L)
        return finishLocally(next)
      // decay the loop parallelism with the contracting edge set (the
      // checksum already counted it — no extra job)
      val nextParts = loopShufflePartitions(sig._1)
      if (nextParts != parts) {
        parts = nextParts
        loop.conf.set("spark.sql.shuffle.partitions", parts.toString)
      }
    }
    if (!converged)
      // hitting this means pathological input, and silently returning
      // would split components across cluster_ids
      throw new IllegalStateException(
        s"connected components did not converge after $maxIterations iterations " +
        s"(edges=${lastSig._1}); check the edge set")

    val cc = e.select(
        greatest($"u", $"v").as("node"), least($"u", $"v").as("root"))
      .groupBy($"node").agg(min($"root").as("cluster_id"))
      .select($"node".as(idCol), $"cluster_id")
      .localCheckpoint(eager = true)
    freeBlocks()
    nodes
      .join(cc, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
  }

  private def isId128(dt: DataType): Boolean = dt match {
    case st: StructType => st.fields.length == 2 && st.fields.forall(_.dataType == LongType)
    case _ => false
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

  /** Bounded driver-side closure: collect ≤ [[localFinishEdges]] id pairs,
    * close them with [[componentMins]], label every component by its minimum
    * id (the loop's deterministic labeling contract), and BROADCAST the
    * node → label map instead of re-creating a LocalRelation of O(nodes)
    * rows on the driver (measured 4.5 s of single-threaded encode + a
    * downstream shuffle join at 940k edges; the broadcast + narrow lookup
    * costs ~1 s and no shuffle). Returns the lookup (absent node → itself)
    * and the broadcast's destroy callback. Replaces the geometric tail of
    * near-empty star rounds whose per-round cost is pure stage-wave latency
    * on ANY cluster size.
    *
    * Edges collect as four primitive longs per row (32 B per edge, 64 MB at
    * the budget — inside Spark's 1g default `spark.driver.maxResultSize`),
    * the node→dense-id map is one open-addressed probe table in flat long
    * arrays, and the broadcast ships five primitive arrays — ~0 boxing. A
    * boxed HashMap[Row, Row] broadcast through java serialization measured
    * a 7.6 s single-threaded driver gap at the 2 M-edge budget (900k-doc
    * corpus) — pure core-count-independent floor that caps the N-vs-4N
    * scaling ratio. */
  private def localFinish(spark: SparkSession, edges: DataFrame)
      : (UserDefinedFunction, () => Unit) = {
    import spark.implicits._
    val st = edges.schema("u").dataType.asInstanceOf[StructType]
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
   * the union graph — min-url component labels, one row per node of
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
   * touched component's new label is the min url over every merged piece —
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
   * @param assignment (idCol, labelCol) STRING url rows, the output
   *                   contract of [[run]]/[[assignAll]] (root self-rows
   *                   included or not — both work: roots are reachable from
   *                   their children's star edges, and a singleton's
   *                   self-row survives either as an untouched row or via D).
   * @param deltaEdges new (aCol, bCol) STRING url edges; endpoints need not
   *                   appear in `assignment` (brand-new documents form
   *                   new components).
   */
  def incremental(assignment: DataFrame, deltaEdges: DataFrame,
                  idCol: String = "url", labelCol: String = "cluster_id",
                  aCol: String = "url_a", bCol: String = "url_b",
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
        localEdgeBudget = localEdgeBudget)
      .select(col("url").as(idCol), col("cluster_id").as(labelCol))
    untouched.select(col(idCol), col(labelCol)).unionByName(merged)
  }
}
