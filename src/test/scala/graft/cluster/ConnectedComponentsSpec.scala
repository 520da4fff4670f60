package graft.cluster

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ConnectedComponentsSpec extends SparkSpec {

  /** Brute-force union-find oracle. */
  private def unionFind(n: Int, edges: Seq[(Int, Int)]): Map[Int, Int] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // path-compress to canonical min representative
    (0 until n).map(i => i -> find(i)).toMap
  }

  test("matches union-find on random graphs, local-finish AND distributed paths (property, seeded)") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 5) {
      val n = 50 + rnd.nextInt(100)
      val nEdges = rnd.nextInt(2 * n)
      val edges = Seq.fill(nEdges)((rnd.nextInt(n), rnd.nextInt(n))).filter(e => e._1 != e._2)
      val expected = unionFind(n, edges)

      val edgeDf = edges.map { case (a, b) => (f"n$a%04d", f"n$b%04d") }
        .toDF("url_a", "url_b")
      // default budget → bounded union-find finish; budget 0 → distributed
      // star rounds to fixpoint. Both must agree with the oracle exactly.
      for (budget <- Seq(ConnectedComponents.localFinishEdges, 0L)) {
        val got = ConnectedComponents.run(edgeDf, localEdgeBudget = budget)
          .collect().map(r => (r.getString(0), r.getString(1))).toMap

        // compare components as partitions over nodes that appear in edges
        val nodesInEdges = edges.flatMap(e => Seq(e._1, e._2)).distinct
        for (node <- nodesInEdges) {
          val want = f"n${expected(node)}%04d"
          val gotC = got(f"n$node%04d")
          assert(gotC == want, s"trial $trial budget $budget node $node: got $gotC want $want")
        }
      }
    }
  }

  test("mid-loop local finish (budget hit after contraction) matches fixpoint") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // long chains force several star rounds, and the redundant random
    // intra-chain edges inflate the INITIAL count (~520 distinct) well above
    // the star fixpoint's nodes-minus-roots count (240), so a 300-edge
    // budget is crossed mid-loop, not before it and not only at fixpoint
    val edges = (0 until 6).flatMap { c =>
      (0 until 40).map(i => (f"c$c%02d_${i}%03d", f"c$c%02d_${i + 1}%03d")) ++
        Seq.fill(50)((f"c$c%02d_${rnd.nextInt(41)}%03d", f"c$c%02d_${rnd.nextInt(41)}%03d"))
    }
    val edgeDf = edges.filter(e => e._1 != e._2).toDF("url_a", "url_b")
    val fixpoint = ConnectedComponents.run(edgeDf, localEdgeBudget = 0L)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    for (budget <- Seq(300L, 5000L)) {
      val got = ConnectedComponents.run(edgeDf, localEdgeBudget = budget)
        .collect().map(r => (r.getString(0), r.getString(1))).toMap
      assert(got == fixpoint, s"budget $budget diverged from distributed fixpoint")
    }
  }

  test("128-bit struct node ids: both finishes produce the string-id partition") {
    import spark.implicits._
    import graft.functions.GraftFunctions.id128
    val rnd = new scala.util.Random(29)
    val n = 120
    val edges = Seq.fill(300)((rnd.nextInt(n), rnd.nextInt(n))).filter(e => e._1 != e._2)
    val edgeDf = edges.map { case (a, b) => (f"n$a%04d", f"n$b%04d") }
      .toDF("url_a", "url_b").cache()
    def partitions(asg: Map[String, String]): Set[Set[String]] =
      asg.groupBy(_._2).values.map(_.keys.toSet).toSet
    val want = partitions(ConnectedComponents.run(edgeDf).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap)

    // same edges keyed by STRUCT<h1,h2> hash ids, through BOTH code paths
    // (driver union-find over (hi, lo) longs; distributed star rounds over
    // struct columns — window min / least / xxhash64 checksum on structs)
    val hdf = edgeDf.select(id128(col("url_a")).as("url_a"), id128(col("url_b")).as("url_b"))
    val dict = edgeDf.select(col("url_a").as("url")).union(edgeDf.select(col("url_b").as("url")))
      .distinct().select(col("url"), id128(col("url")).as("nid"))
    for (budget <- Seq(ConnectedComponents.localFinishEdges, 0L)) {
      val asg = ConnectedComponents.run(hdf, localEdgeBudget = budget)
      val got = partitions(asg.join(dict, asg("url") === dict("nid"))
        .select(dict("url").as("u"), asg("cluster_id").cast("string").as("c"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap)
      assert(got == want, s"budget $budget: struct-id partition diverged")
    }
    edgeDf.unpersist()
  }

  test("Long-typed node ids are rejected, naming the type") {
    // only the two id disciplines in use have a local finish: STRING urls
    // and STRUCT<long,long> hashes
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("url_a", "url_b")
    val e = intercept[IllegalArgumentException](ConnectedComponents.run(edges))
    assert(e.getMessage.contains("bigint"), e.getMessage)
  }

  test("empty edges, singletons via assignAll") {
    import spark.implicits._
    val nodes = Seq("a", "b", "c").toDF("url")
    val edges = spark.emptyDataset[(String, String)].toDF("url_a", "url_b")
    val out = ConnectedComponents.assignAll(nodes, edges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("a" -> "a", "b" -> "b", "c" -> "c"))
  }

  test("loop shuffle partitions scale with the edge count and floor at the fan-in") {
    // bench scale: small converging edge sets keep the measured-serial-floor
    // fan-in; web scale: partitions grow with data instead of funnelling a
    // billion-row edge set through 16 reduce tasks
    assert(ConnectedComponents.loopShufflePartitions(0L) == 16)
    assert(ConnectedComponents.loopShufflePartitions(1600L) == 16)
    assert(ConnectedComponents.loopShufflePartitions(300000L) == 16)
    assert(ConnectedComponents.loopShufflePartitions(50000000L) == 100)
    assert(ConnectedComponents.loopShufflePartitions(1000000000L) == 2000)
    assert(ConnectedComponents.loopShufflePartitions(1000000000000L) == 200000) // overflow-guard cap
  }

  test("converge never mutates the caller session's SQL conf") {
    import spark.implicits._
    val before = (spark.conf.get("spark.sql.shuffle.partitions"),
      spark.conf.get("spark.sql.adaptive.enabled"))
    val edges = (1 until 30).map(i => (f"c$i%03d", f"c${i + 1}%03d")).toDF("url_a", "url_b")
    val out = ConnectedComponents.run(edges)
    // the loop runs on a cloned session; probe the caller conf DURING the
    // lazy tail (run() already converged eagerly) and after full collect
    assert((spark.conf.get("spark.sql.shuffle.partitions"),
      spark.conf.get("spark.sql.adaptive.enabled")) == before)
    assert(out.count() == 30)
    assert((spark.conf.get("spark.sql.shuffle.partitions"),
      spark.conf.get("spark.sql.adaptive.enabled")) == before)
  }

  test("incremental delta merge == from-scratch run over the union graph (property, seeded)") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    for (trial <- 1 to 4) {
      val n = 60 + rnd.nextInt(80)
      val all = Seq.fill(rnd.nextInt(3 * n))((rnd.nextInt(n), rnd.nextInt(n)))
        .filter(e => e._1 != e._2)
      // random split: delta includes edges to brand-new nodes (> n) so new
      // documents forming new components are exercised every trial
      val (base, deltaOld) = all.partition(_ => rnd.nextBoolean())
      val delta = deltaOld ++ Seq.fill(5)((n + rnd.nextInt(10), rnd.nextInt(n + 10)))
        .filter(e => e._1 != e._2)
      def df(es: Seq[(Int, Int)]) =
        es.map { case (a, b) => (f"n$a%04d", f"n$b%04d") }.toDF("url_a", "url_b")
      val assignment = ConnectedComponents.run(df(base))
      val got = ConnectedComponents.incremental(assignment, df(delta))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val want = ConnectedComponents.run(df(base ++ delta))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got == want, s"trial $trial: incremental diverged from from-scratch")
    }
  }

  test("incremental leaves untouched components byte-identical and merges touched ones") {
    import spark.implicits._
    // two chains; the delta bridges chain A to a new node and never
    // mentions chain B
    val chainA = (1 until 5).map(i => (f"a$i%02d", f"a${i + 1}%02d"))
    val chainB = (1 until 5).map(i => (f"b$i%02d", f"b${i + 1}%02d"))
    val assignment = ConnectedComponents.run((chainA ++ chainB).toDF("url_a", "url_b"))
    val delta = Seq(("a03", "zz1"), ("a99", "a01")).toDF("url_a", "url_b")
    val out = ConnectedComponents.incremental(assignment, delta)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // untouched: chain B labels survive verbatim
    (1 to 5).foreach(i => assert(out(f"b$i%02d") == "b01"))
    // touched: chain A ∪ {zz1, a99} collapses to the min id a01
    (1 to 5).foreach(i => assert(out(f"a$i%02d") == "a01"))
    assert(out("zz1") == "a01" && out("a99") == "a01")
    assert(out.size == 12)
  }

  test("single chain collapses to min") {
    import spark.implicits._
    val edges = (1 until 20).map(i => (f"x$i%03d", f"x${i + 1}%03d")).toDF("url_a", "url_b")
    val out = ConnectedComponents.run(edges).collect()
    assert(out.map(_.getString(1)).distinct.toSeq == Seq("x001"))
    assert(out.length == 20)
  }
}
