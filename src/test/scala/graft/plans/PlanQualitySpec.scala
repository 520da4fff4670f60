package graft.plans

import graft.SparkSpec
import graft.block.Blocking
import graft.ingest.CorpusGen
import org.apache.spark.sql.functions._

/**
 * Plan-shape assertions — the 100 TB guardrails (builder prompt: "push down
 * and prune", "broadcast small dims", "codegen-friendly"). These fail if a
 * refactor silently de-optimizes the physical plan.
 */
class PlanQualitySpec extends SparkSpec {

  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("feature extraction never reads the html column (column pruning)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-pages").toString
    CorpusGen.pages(spark, 200L, seed = 42L, partitions = 2)
      .write.mode("overwrite").parquet(tmp)
    val pages = spark.read.parquet(tmp).as[graft.schema.Page]
    val plan = formatted(Blocking.features(pages, Blocking.Config(dfStopRatio = 1.0)))
    val scanSchema = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!scanSchema.contains("html"), s"html must be pruned from scan: $scanSchema")
    assert(scanSchema.contains("text"), s"text must be read: $scanSchema")
  }

  /** Text-kernel expressions a plan evaluates — each cache's plan counted
    * once however often the cache is read — and `normalize_text` calls
    * whose input is the `text` column itself. */
  private def textPasses(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): (Int, Int) = {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
    import graft.functions.{NormalizeText, TextFeatureHashes, TextNgramHashSeq, TextNgramHashes}
    def count(es: Seq[Expression]): (Int, Int) = {
      val all = es.flatMap(_.collect { case e => e })
      (all.count {
        case _: TextFeatureHashes | _: TextNgramHashes | _: TextNgramHashSeq => true
        case _ => false
      }, all.count {
        case NormalizeText(a: Attribute) => a.name == "text"
        case _ => false
      })
    }
    val caches = plan.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r.cacheBuilder.cachedPlan
    }.distinct
    (count(plan.flatMap(_.expressions)) +: caches.map(c => count(c.flatMap(_.expressions))))
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
  }

  test("page features run ONE text-kernel pass over text, no split(normalize_text(text))") {
    // CollapseProject must not inline the (tokenHashes, freqHashes) struct
    // into both of its field reads — that would silently run the kernel
    // twice per page — and no caller may go back to the string composition
    import spark.implicits._
    val pages = CorpusGen.pages(spark, 100L, seed = 42L, partitions = 2)
    val noStop = Blocking.features(pages, Blocking.Config(dfStopRatio = 1.0))
    assert(textPasses(noStop.queryExecution.optimizedPlan) == (1, 0),
      noStop.queryExecution.optimizedPlan.toString)
    val withStop = Blocking.features(pages, Blocking.Config())
    assert(textPasses(withStop.queryExecution.optimizedPlan) == (1, 0),
      withStop.queryExecution.optimizedPlan.toString)
    val stops = spark.range(1).select(typedLit(Array(1L, 2L)).as("stops"))
    val online = graft.streaming.EntityAssign.pageFeatures(pages.toDF(), stops)
    assert(textPasses(online.queryExecution.optimizedPlan) == (1, 0),
      online.queryExecution.optimizedPlan.toString)
    withStop.unpersist()
  }

  test("DF-stop set rides a broadcast, never a driver collect/plan literal") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-pages-stop").toString
    CorpusGen.pages(spark, 200L, seed = 42L, partitions = 2)
      .write.mode("overwrite").parquet(tmp)
    val pages = spark.read.parquet(tmp).as[graft.schema.Page]
    val feats = Blocking.features(pages, Blocking.Config()) // dfStopRatio active
    feats.collect()
    val physical = feats.queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastNestedLoopJoin") || physical.contains("BroadcastExchange"),
      s"stop set must broadcast:\n$physical")
    // no 100k-long literal array baked into the plan (round-1 shape)
    val optimized = feats.queryExecution.optimizedPlan.toString
    assert(!optimized.matches("(?s).*-?\\d+(,\\s*-?\\d+){99}.*"),
      "no long literal arrays in the optimized plan")
  }

  test("predicate pushdown reaches the parquet scan") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("lang") === "en")
      .select(col("doc_id"))
    val plan = formatted(df)
    assert(plan.contains("PushedFilters") &&
      plan.linesIterator.exists(l => l.contains("PushedFilters") && l.contains("lang")),
      s"lang filter must be pushed:\n$plan")
  }

  test("small dimension join is broadcast") {
    val l = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val p = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
    val joined = l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .groupBy("p_brand").count()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("custom expressions stay inside WholeStageCodegen") {
    import graft.functions.GraftFunctions._
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(jaro_winkler(col("text"), col("source")).as("jw"),
        rolling_fingerprint(col("text")).as("fp"))
    df.collect() // force codegen
    val plan = df.queryExecution.executedPlan.toString
    // whole-stage-codegen'd operators carry the "*(stageId)" prefix
    assert(plan.contains("WholeStageCodegen") || plan.contains("*(1) Project"),
      s"expected codegen'd projection:\n$plan")
  }

  test("no registered query plans a CartesianProduct") {
    // every SparkEntry query must optimize to a keyed or broadcast join —
    // a CartesianProduct node means a join lost its equi-condition in a
    // refactor. (1-row broadcast build sides — the DF-stop set, metric
    // cross-combines — compile to BroadcastNestedLoopJoin, which is fine
    // and excluded from this check.)
    val sfDir = "/root/testdata/sf0.001"
    graft.SparkEntry.queries.foreach { case (name, fn) =>
      // er/pipeline queries execute eagerly (checkpointed loops) — plan
      // shape is asserted by their own specs; skip the expensive builds
      if (!Set("er_pipeline", "er_clone_pairs", "cc_components",
          "dedup_minhash", "dedup_simhash", "embedding_neardup",
          "ann_lsh_topk", "ann_topk", "mm_decode_frames").contains(name)) {
        val plan = fn(spark, sfDir).queryExecution.sparkPlan.toString
        assert(!plan.contains("CartesianProduct"),
          s"query $name plans a cartesian product:\n$plan")
      }
    }
  }

  test("candidatePairs block sizes ride agg+join — no count window in the plan") {
    // Dedup.blockPairs: thin per-key stats (one partial-aggregable groupBy,
    // never a whole-group `count(*) over (partition by key)` window, the
    // stage shape that OOM'd the 6M-doc dress rehearsal, BASELINE.md
    // lesson 5), joined back, an explicit-N keyed exchange, then ONE window:
    // collect_list only over a GROWING rows frame (UNBOUNDED PRECEDING up to
    // a row before the current one), which Spark extends row by row — a
    // bounded sliding frame re-aggregates its whole frame for every row —
    // plus lead/lag. No collect_list group aggregate of whole blocks and no
    // round-robin exchange. The block table is checkpointed so only pair
    // generation is in the plan.
    import org.apache.spark.sql.catalyst.expressions.{FrameLessOffsetWindowFunction, Literal,
      RowFrame, SpecifiedWindowFrame, UnboundedPreceding, WindowExpression}
    import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    val pages = CorpusGen.pages(spark, 300L, seed = 42L, partitions = 2)
    val feats = Blocking.features(pages, Blocking.Config())
    val blocks = Blocking.blockKeys(feats).localCheckpoint(eager = true)
    val pairs = Blocking.candidatePairs(blocks, Blocking.Config())
    val qe = pairs.queryExecution

    val stats = qe.optimizedPlan.collect { case a: Aggregate if a.output.exists(_.name == "n") => a }
    assert(stats.size == 1, s"expected one block-stats aggregate:\n${qe.optimizedPlan}")

    val windows = qe.sparkPlan.collect { case w: WindowExec => w }
    assert(windows.size == 1, s"expected one pair window:\n${qe.sparkPlan}")
    val wexprs = windows.head.windowExpression.flatMap(_.collect { case we: WindowExpression => we })
    assert(wexprs.nonEmpty)
    wexprs.foreach { we =>
      val s = we.sql.toLowerCase
      assert(!s.contains("count("), s"block-size count must not be a window: $s")
      we.windowFunction match {
        case _: FrameLessOffsetWindowFunction => // lead / lag
        case _ => we.windowSpec.frameSpecification match {
          case SpecifiedWindowFrame(RowFrame, UnboundedPreceding, Literal(hi: Int, _)) =>
            assert(hi < 0, s"growing frame must end before the current row: $s")
          case f => fail(s"expected a growing ROWS frame, got $f in $s")
        }
      }
    }

    val collectAggs = qe.sparkPlan.collect {
      case a: BaseAggregateExec if a.aggregateExpressions.exists(_.aggregateFunction.isInstanceOf[CollectList]) => a
    }
    assert(collectAggs.isEmpty, s"collect_list group aggregate in the pair plan:\n${qe.sparkPlan}")
    pairs.collect() // the final adaptive plan
    assert(!qe.executedPlan.toString.contains("RoundRobinPartitioning"),
      s"round-robin exchange in the pair plan:\n${qe.executedPlan}")
  }

  test("minhash at verifyJaccard=1.0 plans without the LSH tier") {
    // the threshold-aware prune (Dedup.minhashNearDupPairs): a 1.0
    // threshold admits only equal token sets, all already paired by the
    // exact tier — the signature/banding/pair-gen/verify stages must not
    // RUN (they did: ~20s of generate-then-reject-every-candidate per
    // bench pass at sf0.1). The output rides a localCheckpoint, so the
    // plan isn't inspectable; assert COST directly by counting the Spark
    // stages each construction executes — the full path's extra tier
    // (signature aggregate, banding explode, block stats, two hash joins)
    // must show up as strictly more stages on identical input.
    import spark.implicits._
    val docs = (0L until 50L).map(i => (i, s"alpha beta gamma word$i text"))
      .toDF("doc_id", "text").cache()
    docs.count()
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    def stagesFor(thr: Double): Int = {
      stages.set(0)
      graft.dedup.Dedup.minhashNearDupPairs(docs, "doc_id", "text",
        graft.dedup.Dedup.MinHashConfig(verifyJaccard = thr)).count()
      Thread.sleep(2000) // listener events post async; settle before reading
      stages.get()
    }
    try {
      val pruned = stagesFor(1.0)
      val full = stagesFor(0.7)
      assert(pruned < full,
        s"pruned path ran $pruned stages, full path $full — prune not effective")
    } finally spark.sparkContext.removeSparkListener(listener)
    docs.unpersist()
  }

  test("scorer is narrow and feature attach joins are broadcast at small scale") {
    import spark.implicits._
    val pages = CorpusGen.pages(spark, 300L, seed = 42L, partitions = 2).cache()
    val feats = Blocking.features(pages, Blocking.Config())
    val pairs = Blocking.candidatePairs(Blocking.blockKeys(feats), Blocking.Config())
    val withPayload = Blocking.attachFeatures(pairs, feats)
    val edges = graft.score.PairScorer.score(withPayload)
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      formatted(df).linesIterator.count(l => l.trim.startsWith("Exchange") || l.contains(" Exchange"))
    // scoring itself adds no exchange beyond the payload joins
    assert(exchanges(edges) == exchanges(withPayload),
      "PairScorer.score must be narrow (no extra shuffle)")
    // the small feature table rides a broadcast join, not a shuffle join
    edges.collect()
    assert(edges.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "attachFeatures should broadcast the small feature side")
    pages.unpersist()
  }

  test("domainQuota rank-limit compiles to WindowGroupLimit (map-side Partial + Final)") {
    import spark.implicits._
    val d = (0 until 200).map(i => (i.toLong, s"https://site${i % 5}.org/p/$i"))
      .toDF("doc_id", "url")
    val plan = formatted(
      graft.text.Sampling.domainQuota(d, "doc_id", col("doc_id") % 9, k = 2))
    // Partial = bounded top-k per group BEFORE the exchange (each split ships
    // ≤ k rows per domain); Final = the reduce side never buffers a whole
    // group. If a refactor breaks rank-like detection, Partial disappears.
    assert(plan.contains("row_number(), 2, Partial"),
      s"map-side WindowGroupLimit missing:\n$plan")
    assert(plan.contains("row_number(), 2, Final"),
      s"reduce-side WindowGroupLimit missing:\n$plan")
  }
}
