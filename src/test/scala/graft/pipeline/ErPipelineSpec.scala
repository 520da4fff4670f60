package graft.pipeline

import graft.SparkSpec
import graft.block.Blocking
import graft.eval.PairwiseF1
import graft.ingest.CorpusGen
import graft.score.PairScorer

class ErPipelineSpec extends SparkSpec {

  private val N = 1000L

  lazy val pages = CorpusGen.pages(spark, N, seed = 42L).cache()
  lazy val gold = CorpusGen.goldPairs(spark, N, seed = 42L).cache()

  test("generator invariant: text == ExtractText(html) per row") {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions._
    val bad = pages.toDF()
      .filter(not(extract_text(col("html")) <=> col("text")))
      .count()
    assert(bad == 0L)
  }

  test("gold pairs population is labeled both ways") {
    import org.apache.spark.sql.functions._
    val counts = gold.groupBy("is_match").count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(counts.getOrElse(true, 0L) > 500, s"positives: $counts")
    assert(counts.getOrElse(false, 0L) > 100, s"negatives: $counts")
    assert(gold.filter(col("url_a") >= col("url_b")).count() == 0)
  }

  test("blocking recall on labeled matching pairs ≥ 0.99") {
    val feats = Blocking.features(pages, Blocking.Config())
    val pairs = Blocking.candidatePairs(Blocking.blockKeys(feats), Blocking.Config())
    val recall = PairwiseF1.blockingRecall(gold, pairs)
    info(s"blocking recall = $recall, candidate pairs = ${pairs.count()}")
    assert(recall >= 0.99, s"blocking recall $recall")
  }

  test("end-to-end pairwise F1 ≥ 0.99 (north-rule metric)") {
    val (clusters, res) = ErPipeline.runAndEvaluate(pages, gold)
    info(s"pairwise $res")
    info(s"clusters: ${clusters.select("cluster_id").distinct().count()} over ${clusters.count()} pages")
    assert(res.f1 >= 0.99, s"pairwise F1 ${res.f1} ($res)")
  }

  test("precision holds in the name-collision regime (100k docs)") {
    // the failure class the 1000-doc gate CANNOT see: with ~16k distinct
    // first/last combinations, ≥20k entities guarantee same-full-name
    // different-entity collisions, whose pairs score jaro≈lev≈1 — without
    // the scorer's conjunctive jaccard floor they leak past the threshold
    // and transitive closure chains clusters (measured at 600k docs with
    // τ=0.5/no floor: 4,644 clusters for ~120k entities, precision 0.69;
    // with τ=0.6 ∧ jaccard ≥ 0.35: precision 1.0000, recall 0.9991).
    val p3 = CorpusGen.pages(spark, 100000L, seed = 42L).cache()
    val g3 = CorpusGen.goldPairs(spark, 100000L, seed = 42L).cache()
    val (clusters, res) = ErPipeline.runAndEvaluate(p3, g3)
    val nClusters = clusters.select("cluster_id").distinct().count()
    info(s"100k-doc pairwise $res, clusters=$nClusters")
    assert(res.precision >= 0.99, s"precision ${res.precision} ($res)")
    assert(res.recall >= 0.99, s"recall ${res.recall} ($res)")
    // cluster count ≈ entity count (over-merge collapses it by orders)
    assert(nClusters > 15000L, s"cluster chaining suspected: $nClusters clusters")
    p3.unpersist(); g3.unpersist()
  }

  test("run ≡ driver-side union-find over url-keyed layer edges") {
    // the 128-bit-id pipeline must not change SEMANTICS, only shuffle
    // bytes: the same layers keyed on url strings (the SN tiebreak is
    // id128(id) under both keyings by construction) give the same edges,
    // and closing those on the driver, each component labeled by its
    // minimum url and each edgeless doc by itself, must give the exact
    // (url, cluster_id) multiset — not just the same partition.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val p2 = CorpusGen.pages(spark, 20000L, seed = 99L).cache()
    val cfg = ErPipeline.Config()
    val feats = Blocking.features(p2, cfg.blocking)
      .select(col("url"), col("mention"), col("sig")).cache()
    val pairs = Blocking.candidatePairs(Blocking.blockKeys(feats, cfg.blocking), cfg.blocking)
    val edges = PairScorer.score(Blocking.attachFeatures(pairs, feats), cfg.scorer)
      .select("url_a", "url_b").as[(String, String)].collect()
    // union-find whose root is always the component's minimum url
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(u: String): String = {
      val p = parent.getOrElse(u, u)
      if (p == u) u else { val r = find(p); parent(u) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val want = p2.select("url").as[String].collect().map(u => (u, find(u))).sorted.toSeq
    val got = ErPipeline.run(p2, cfg).as[(String, String)].collect().sorted.toSeq
    assert(edges.length > 1000 && want.count(w => w._1 != w._2) > 1000,
      s"oracle too thin to compare: ${edges.length} edges")
    assert(got.length == want.length, s"${got.length} rows vs ${want.length} pages")
    val diff = got.zip(want).count { case (g, w) => g != w }
    assert(diff == 0, s"$diff of ${want.length} (url, cluster_id) rows differ from the oracle")
    feats.unpersist(); p2.unpersist()
  }

  test("runCheckpointed recomputes features after a blocking-config change") {
    // every config field is in the fingerprint: a changed DF-stop ratio
    // must rebuild the features stage, not resume the stale snapshot
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-er-ckpt").toString
    val p = CorpusGen.pages(spark, 400L, seed = 5L).cache()
    val cfg1 = ErPipeline.Config()
    val cfg2 = ErPipeline.Config(blocking = Blocking.Config(dfStopRatio = 1.0))
    def sigs(f: org.apache.spark.sql.DataFrame) = f.select(col("url"), col("sig"))
    val fresh1 = sigs(Blocking.features(p, cfg1.blocking))
    val fresh2 = sigs(Blocking.features(p, cfg2.blocking))
    assert(fresh2.exceptAll(fresh1).count() > 0, "the two configs must yield different features")

    val featsDir = s"$dir/features"
    ErPipeline.runCheckpointed(spark, p, dir, cfg1).count()
    def committedFp = graft.ops.Checkpoints.readManifest(featsDir).map(_.fingerprint)
    assert(committedFp.contains(cfg1.fingerprint))
    ErPipeline.runCheckpointed(spark, p, dir, cfg2).count()
    assert(committedFp.contains(cfg2.fingerprint),
      "features stage resumed under a stale config")
    val snap = sigs(spark.read.parquet(s"$featsDir/data"))
    assert(snap.exceptAll(fresh2).count() == 0 && fresh2.exceptAll(snap).count() == 0,
      "features snapshot is not the new config's features")
    p.unpersist()
  }

  /** Call sites of the jobs `body` launches: the action of a job's SQL
    * execution (AQE submits a query's stages as jobs of their own), else its
    * own stage's call site; with whether that execution is a file write. */
  private def jobSites(body: => Unit): Seq[(String, Boolean)] = {
    import org.apache.spark.scheduler._
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = spark.sparkContext
    val executions = new java.util.concurrent.ConcurrentHashMap[String, (String, Boolean)]
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]
    val marker = s"drain-${System.nanoTime()}"
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => executions.put(x.executionId.toString,
          (x.description, x.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand")))
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        if (p.exists(_.getProperty("erpipelinespec.marker") == marker)) drained.countDown()
        else jobs.add(p.flatMap(q => Option(q.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(executions.get(id)))
          .getOrElse((e.stageInfos.lastOption.map(_.name).getOrElse(""), false)))
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      // the marker job's start event queues behind every event of `body`
      sc.setLocalProperty("erpipelinespec.marker", marker)
      try sc.parallelize(Seq(0), 1).count()
      finally sc.setLocalProperty("erpipelinespec.marker", null)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener did not drain")
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    jobs.asScala.toSeq
  }

  private val ckptStages = Seq("pages", "features", "pairs", "edges", "clusters")

  test("checkpointed stages commit from their own writes: no count, schema or lineage job") {
    import java.nio.file.{Files, Paths}
    import graft.ops.Checkpoints
    val dir = Files.createTempDirectory("graft-er-jobs").toString
    val p = CorpusGen.pages(spark, 400L, seed = 13L).cache()
    p.count()
    var out: org.apache.spark.sql.DataFrame = null
    val fresh = jobSites { out = ErPipeline.runCheckpointed(spark, p, dir) }
    assert(!fresh.exists(_._1.contains("Lineage.scala")), s"lineage jobs: $fresh")
    val ckpt = fresh.filter(_._1.contains("Checkpoints.scala"))
    assert(ckpt.nonEmpty && ckpt.forall(_._2),
      s"jobs at Checkpoints.scala other than the stage writes: ${ckpt.filterNot(_._2)}")
    assert(ckpt.map(_._1).distinct.size == 1, s"one write call site: ${ckpt.distinct}")
    val resumed = jobSites { ErPipeline.runCheckpointed(spark, p, dir) }
    assert(!resumed.exists(j => j._1.contains("Checkpoints.scala") || j._1.contains("Lineage.scala")),
      s"a fully resumed run launched jobs: $resumed")

    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    for (s <- ckptStages) {
      val data = s"$dir/$s/data"
      val m = Checkpoints.readManifest(s"$dir/$s").getOrElse(fail(s"$s not committed"))
      val counters = json.readTree(Paths.get(dir, s, "counters.json").toFile)
      val partRows = counters.get("partitions").elements()
      var partSum = 0L
      while (partRows.hasNext) partSum += partRows.next().get("rows").longValue
      val inferred = spark.read.parquet(data)
      val n = inferred.count()
      assert(counters.get("rows").longValue == n && m.rows == n && partSum == n,
        s"$s: counters ${counters.get("rows")}, manifest ${m.rows}, table $n rows")
      assert(spark.read.schema(m.schema).parquet(data).schema == inferred.schema,
        s"$s: the resume schema is not the table's")
    }
    assert(out.schema == spark.read.parquet(s"$dir/clusters/data").schema)
    p.unpersist()
  }

  test("crash before the edges commit: the re-run recomputes only edges and clusters") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-er-crash").toString
    val p = CorpusGen.pages(spark, 400L, seed = 17L).cache()
    def partFiles(s: String) =
      new java.io.File(s"$dir/$s/data").list().filter(_.startsWith("part-")).sorted.toSeq
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, String)].collect().sorted.toSeq
    val want = rows(ErPipeline.runCheckpointed(spark, p, dir))
    val before = ckptStages.map(s => s -> partFiles(s)).toMap
    // the edges stage wrote its data but never committed: stale data and
    // counters, no manifest
    Files.delete(Paths.get(dir, "edges", "manifest.json"))
    Files.write(Paths.get(dir, "edges", "counters.json"), "{\"stage\":\"stale\"}".getBytes)

    assert(rows(ErPipeline.runCheckpointed(spark, p, dir)) == want)
    for (s <- Seq("pages", "features", "pairs"))
      assert(partFiles(s) == before(s), s"$s was recomputed")
    for (s <- Seq("edges", "clusters"))
      assert(partFiles(s).intersect(before(s)).isEmpty, s"$s was not recomputed")
    val counters = new String(Files.readAllBytes(Paths.get(dir, "edges", "counters.json")))
    val m = graft.ops.Checkpoints.readManifest(s"$dir/edges").getOrElse(fail("edges not committed"))
    assert(counters.contains("\"stage\":\"edges\"") && counters.contains(s"\"rows\":${m.rows},"),
      s"edges counters are not the new write's: $counters")
    p.unpersist()
  }

  test("a corpus overwritten at the same path is not resumed from the old pages snapshot") {
    import java.nio.file.Files
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-er-input").toString
    val corpus = Files.createTempDirectory("graft-er-corpus").resolve("pages").toString
    def read = spark.read.parquet(corpus).as[graft.schema.Page]
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, String)].collect().sorted.toSeq
    CorpusGen.pages(spark, 300L, seed = 21L).write.parquet(corpus)
    val a = rows(ErPipeline.runCheckpointed(spark, read, dir))
    CorpusGen.pages(spark, 400L, seed = 22L).write.mode("overwrite").parquet(corpus)
    val want = rows(ErPipeline.run(read))
    assert(want != a, "the two corpora must cluster differently")
    assert(rows(ErPipeline.runCheckpointed(spark, read, dir)) == want,
      "resumed the pages snapshot of the overwritten corpus")
    // an unchanged input still resumes: no stage is rewritten
    val snapshots = ckptStages.map(s => graft.ops.Checkpoints.readManifest(s"$dir/$s").map(_.snapshot))
    assert(rows(ErPipeline.runCheckpointed(spark, read, dir)) == want)
    assert(ckptStages.map(s => graft.ops.Checkpoints.readManifest(s"$dir/$s").map(_.snapshot)) ==
      snapshots)
  }

  test("a warm JVM compiles each ER plan once: a third round generates no class") {
    // Spark's codegen cache must hold the class working set of both entry
    // points (Sessions.CodegenCacheMaxEntries); at the default 100 entries
    // every warm call recompiled most of its plan. A second call can still
    // compile classes the first did not, so the third round is the one held
    // to zero.
    import java.nio.file.Files
    import org.apache.spark.metrics.source.CodegenMetrics
    import spark.implicits._
    val root = Files.createTempDirectory("graft-er-codegen")
    val corpus = root.resolve("pages").toString
    CorpusGen.pages(spark, 400L, seed = 31L).write.parquet(corpus)
    val read = spark.read.parquet(corpus).as[graft.schema.Page]
    def round(i: Int): Unit = {
      ErPipeline.run(read).as[(String, String)].collect()
      ErPipeline.runCheckpointed(spark, read, root.resolve(s"work-$i").toString)
        .as[(String, String)].collect()
    }
    try {
      round(1); round(2)
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      round(3)
      val again = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
      assert(again == 0, s"the third round of run + runCheckpointed compiled $again classes")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("batch-incremental ER ≡ full rebuild on corpus ∪ batch") {
    import org.apache.spark.sql.functions._
    // corpus-independent features (DF-stops off) + all-pairs blocking
    // regime: the exact-equivalence precondition incremental() documents
    val cfg = ErPipeline.Config(
      blocking = Blocking.Config(dfStopRatio = 1.0, maxBlock = 4096))
    val all = CorpusGen.pages(spark, 1200L, seed = 7L).cache()
    // deterministic split: ~1/4 of docs arrive as the new batch — some are
    // clone-cluster members whose siblings are in the old corpus (edges into
    // existing clusters), some clusters land wholly in the batch (novel
    // clusters), and singletons cover the no-edge path
    val isNew = xxhash64(col("url")) % 4 === 0
    val oldPages = all.filter(!isNew).cache()
    val newPages = all.filter(isNew).cache()

    val oldAssign = ErPipeline.run(oldPages, cfg)
      .localCheckpoint(true)
    val feats = (p: org.apache.spark.sql.Dataset[graft.schema.Page]) =>
      Blocking.features(p, cfg.blocking).select(col("url"), col("mention"), col("sig"))
    val inc = ErPipeline.incremental(feats(oldPages), oldAssign, feats(newPages), cfg)
    val full = ErPipeline.run(all, cfg)

    assert(inc.count() == all.count(), "incremental must cover every doc exactly once")
    val onlyInc = inc.exceptAll(full).count()
    val onlyFull = full.exceptAll(inc).count()
    assert(onlyInc == 0 && onlyFull == 0,
      s"incremental diverged from full rebuild: $onlyInc vs $onlyFull rows")
    Seq(all, oldPages, newPages).foreach(_.unpersist())
  }

  test("end-to-end F1 ≥ 0.99 at the bench corpus shape (6×80)") {
    // the round-5 regression class: thresholds tuned on the 2×40 suite
    // shape silently failed at the bench's 6-paragraph × 80-word pages
    // (pairwise F1 0.37) until the TF-filter/DF-stop hash domains were
    // unified and topic vocabulary was drawn from a pool disjoint from the
    // glue fillers. Pin quality at the shape the scaling bench measures.
    val p4 = CorpusGen.pages(spark, 10000L, seed = 42L,
      paragraphs = 6, paraWords = 80).cache()
    val g4 = CorpusGen.goldPairs(spark, 10000L, seed = 42L).cache()
    val (_, res) = ErPipeline.runAndEvaluate(p4, g4)
    info(s"6×80-shape pairwise $res")
    assert(res.f1 >= 0.99, s"pairwise F1 ${res.f1} at 6×80 shape ($res)")
    p4.unpersist(); g4.unpersist()
  }

  test("DF-stop wipeout guard: boilerplate-only corpus keeps clone recall") {
    // a corpus whose ENTIRE vocabulary is corpus-frequent (df > 10%): the
    // stop list covers every token, and without the minTfKeep fallback in
    // Blocking.features every doc's feature set is subtracted to empty —
    // one sentinel signature, one mega-block, clone recall collapsing to
    // the sorted-neighborhood window (observed on the driver's sf0.001
    // documents table: 31 distinct tokens, 30 stopped, er_clone_pairs
    // 7/500). Every exact-clone pair must land in one cluster.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val vocab = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val base = (0 until 200).map { i =>
      // every doc: 12 tokens drawn round-robin from the tiny shared pool
      val text = (0 until 12).map(j => vocab((i * 7 + j * 5) % vocab.length)).mkString(" ")
      graft.schema.Page(f"doc$i%06d", ts, Array.emptyByteArray, text, "en")
    }
    val clones = base.map(p => p.copy(url = "clone" + p.url))
    val pages5 = spark.createDataset(base ++ clones)
    val clusters = ErPipeline.run(pages5)
    val paired = clusters.as("a").join(clusters.as("b"),
        col("b.url") === concat(lit("clone"), col("a.url")) &&
        col("a.cluster_id") === col("b.cluster_id"))
      .count()
    assert(paired == 200L, s"only $paired/200 clone pairs share a cluster")
  }

  test("scorer weights must be non-negative") {
    // score()'s jaro-bound gate is an upper bound of the score only while
    // every weight is >= 0
    val e = intercept[IllegalArgumentException](PairScorer.Weights(lev = -0.1))
    assert(e.getMessage.contains("non-negative"))
    assert(PairScorer.Weights(jaro = 0.0).jaro == 0.0)
  }

  test("scorer: expression path == typed mapPartitions path") {
    import org.apache.spark.sql.functions._
    val feats = Blocking.features(pages, Blocking.Config())
    val pairs = Blocking.attachFeatures(
      Blocking.candidatePairs(Blocking.blockKeys(feats), Blocking.Config()), feats).cache()
    val viaExpr = PairScorer.score(pairs)
    import spark.implicits._
    val viaTyped = PairScorer.scoreTyped(pairs.as[PairScorer.PairRow])
    val a = viaExpr.select("url_a", "url_b").except(viaTyped.toDF().select("url_a", "url_b")).count()
    val b = viaTyped.toDF().select("url_a", "url_b").except(viaExpr.select("url_a", "url_b")).count()
    assert(a == 0 && b == 0, s"paths disagree: $a/$b")
    pairs.unpersist()
  }
}
