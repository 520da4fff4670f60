package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ingest.CorpusGen
import graft.pipeline.ErPipeline
import graft.streaming.EntityAssign

/**
 * Bench-scale rehearsal of the ONLINE half of the ER engine
 * ([[graft.streaming.EntityAssign]]): the production loop of "offline
 * rebuild mints the canonical store, arriving pages route against it
 * between rebuilds".
 *
 *   AssignRehearsal [canonDocs=600000] [arriveKnown=54000] [arriveNovel=6000] [cores=32]
 *
 * Phases (one JSON line each):
 *  1. offline_build  — the real `ErPipeline.run` over the canonical corpus
 *     (not gold labels: the store the online path serves is the store the
 *     offline path actually mints, defects included).
 *  2. prepare        — `canonicalReps` + `prepareCanonical`, persisted: the
 *     once-per-rebuild cost a long-running stream amortizes.
 *  3. assign_batch   — `assignPrepared` over the arriving mix, the
 *     throughput number (docs/sec on the ARRIVING side).
 *  4. stream_replay  — the same plan as a micro-batched structured-streaming
 *     query (maxFilesPerTrigger over the same parquet, AvailableNow, noop
 *     sink): measures per-batch re-plan/state overhead vs phase 3.
 *  5. accuracy       — arriving pages of KNOWN entities must land in the
 *     cluster whose majority gold entity matches; NOVEL pages must come
 *     back with a NULL cluster_id. Majority map built distributed
 *     (groupBy + max_by), no driver-side loops.
 */
object AssignRehearsal {

  private final class ShuffleStats extends SparkListener {
    private val lock = new Object
    private var totalShuffleWrite = 0L
    private var stages = 0
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = lock.synchronized {
      totalShuffleWrite += sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
      stages += 1
    }
    /** Settle before reading: stage-completed events post asynchronously. */
    def resetSettled(): (Long, Int) = {
      Thread.sleep(3000)
      lock.synchronized {
        val out = (totalShuffleWrite, stages)
        totalShuffleWrite = 0L; stages = 0
        out
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val canonDocs = if (args.length > 0) args(0).toLong else 600000L
    val arriveKnown = if (args.length > 1) args(1).toLong else 54000L
    val arriveNovel = if (args.length > 2) args(2).toLong else 6000L
    val cores = if (args.length > 3) args(3).toInt else 32

    val spark = graft.ops.Sessions.rehearsal(cores, canonDocs,
        "/tmp/graft-spark-local,/dev/shm/graft-spark-assign", "graft-assign-rehearsal")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val stats = new ShuffleStats
    spark.sparkContext.addSparkListener(stats)

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def gb(b: Long): Double = b / 1e9

    val nEntities = math.max(1L, canonDocs / 5) // CorpusGen avgClusterSize default

    // ---- corpus + arriving mix (generation excluded from measured phases)
    val corpusDir = s"/tmp/graft-assign-corpus-v${CorpusGen.generatorVersion}-$canonDocs"
    if (!new java.io.File(s"$corpusDir/_SUCCESS").exists()) {
      CorpusGen.pages(spark, canonDocs, seed = 42L, partitions = cores * 2,
          paragraphs = 6, paraWords = 80) // same shape as the bench rule corpus
        .write.mode("overwrite").parquet(corpusDir)
    }
    val arriveDir =
      s"/tmp/graft-assign-arrive-v${CorpusGen.generatorVersion}-$arriveKnown-$arriveNovel"
    if (!new java.io.File(s"$arriveDir/_SUCCESS").exists()) {
      // known: NEW pages (unseen doc indices) of entities the canonical
      // corpus already covers; gold = the entity the page renders
      val known = spark.range(canonDocs, canonDocs + arriveKnown, 1L, cores * 2).map { i =>
        val p = CorpusGen.genPage(42L, i, nEntities, paragraphs = 6, paraWords = 80)
        (p.url, p.text, i % nEntities)
      }
      // novel: a disjoint seed mints entities (and urls) the store has
      // never seen; gold = -1 (must route to NULL)
      val novel = spark.range(0L, arriveNovel, 1L, cores).map { i =>
        val p = CorpusGen.genPage(4242L, i, math.max(1L, arriveNovel / 5),
          paragraphs = 6, paraWords = 80)
        (p.url, p.text, -1L)
      }
      known.union(novel).toDF("url", "text", "gold_entity")
        // 16 files so the stream replay gets real micro-batches
        .repartition(16).write.mode("overwrite").parquet(arriveDir)
    }

    // JIT/codegen warm-up at toy scale (excluded)
    {
      val tiny = CorpusGen.pages(spark, 2000L, seed = 7L, partitions = cores)
      val tinyAssigned = ErPipeline.run(tiny)
      val tinyStore = EntityAssign.buildCanonical(tiny.toDF(), tinyAssigned)
      EntityAssign.assign(tiny.limit(200).toDF(), tinyStore).count()
    }
    stats.resetSettled()

    // ---- 1. offline rebuild: the store the online path serves
    val pages = spark.read.parquet(corpusDir)
      .as[graft.schema.Page](org.apache.spark.sql.Encoders.product[graft.schema.Page])
    // ErPipeline.run materializes its stages EAGERLY (checkpointed CC
    // loop), so the run() call itself must sit inside the timed block —
    // timing only the trailing count() reported a fantasy 300k+ docs/sec
    // offline number in the first round-5 rehearsals
    val (assigned, erSec) = timed {
      val a = ErPipeline.run(pages).persist(); a.count(); a
    }
    val clusteredUrls = assigned.count()
    val (erShuf, erStages) = stats.resetSettled()
    // store quality on the labeled pairs (diagnostic, off the timed path):
    // the online routing accuracy below is bounded by what the store got right
    val f1 = graft.eval.PairwiseF1.evaluate(
      CorpusGen.goldPairs(spark, canonDocs, seed = 42L, partitions = cores * 2), assigned)
    println(f"""{"phase":"offline_build","docs":$canonDocs,"sec":$erSec%.1f,"docs_per_sec":${canonDocs / erSec}%.0f,"clustered_urls":$clusteredUrls,"pair_f1":${f1.f1}%.4f,"pair_p":${f1.precision}%.4f,"pair_r":${f1.recall}%.4f,"shuffle_write_gb":${gb(erShuf)}%.2f,"stages":$erStages}""")
    Console.flush()

    // ---- 2. once-per-rebuild prepare (frozen stops + reps + keyed/hot-
    // pruned store — the full rebuild-time artifact, including the corpus
    // scan that mints the stop set)
    val prepared = EntityAssign.prepareCanonical(
      EntityAssign.buildCanonical(pages.toDF(), assigned)).persist()
    val (preparedRows, prepSec) = timed { prepared.stops.count(); prepared.keyed.count() }
    val nClusters = assigned.agg(countDistinct(col("cluster_id"))).first().getLong(0)
    val (prepShuf, prepStages) = stats.resetSettled()
    println(f"""{"phase":"prepare","clusters":$nClusters,"prepared_rows":$preparedRows,"sec":$prepSec%.1f,"shuffle_write_gb":${gb(prepShuf)}%.2f,"stages":$prepStages}""")
    Console.flush()

    // ---- 3. batch assignment throughput over the arriving mix
    val arriving = spark.read.parquet(arriveDir)
    val nArrive = arriveKnown + arriveNovel
    val result = EntityAssign.assignPrepared(arriving, prepared).persist()
    val (resultRows, asSec) = timed { result.count() }
    val (asShuf, asStages) = stats.resetSettled()
    println(f"""{"phase":"assign_batch","arriving":$nArrive,"sec":$asSec%.1f,"docs_per_sec":${nArrive / asSec}%.0f,"rows":$resultRows,"shuffle_write_gb":${gb(asShuf)}%.2f,"stages":$asStages}""")
    Console.flush()

    // ---- 4. micro-batched stream replay of the same input and plan
    val stream = spark.readStream.schema(arriving.schema)
      .option("maxFilesPerTrigger", "2") // 16 files -> 8 micro-batches
      .parquet(arriveDir)
    val (_, stSec) = timed {
      val q = EntityAssign.assignPrepared(stream, prepared)
        .writeStream.outputMode("update").format("noop")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.stop()
    }
    val (stShuf, stStages) = stats.resetSettled()
    println(f"""{"phase":"stream_replay","arriving":$nArrive,"batches":8,"sec":$stSec%.1f,"docs_per_sec":${nArrive / stSec}%.0f,"shuffle_write_gb":${gb(stShuf)}%.2f,"stages":$stStages}""")
    Console.flush()

    // ---- 5. routing accuracy vs gold
    // majority gold entity per minted cluster (ties break to the smaller
    // entity id via max_by on (n, -entity): deterministic)
    val gold = CorpusGen.goldClusters(spark, canonDocs).toDF()
    val clusterEntity = assigned.join(gold, "url")
      .groupBy(col("cluster_id"), col("entity_id")).agg(count(lit(1)).as("n"))
      .groupBy(col("cluster_id"))
      .agg(max_by(col("entity_id"), struct(col("n"), -col("entity_id"))).as("maj_entity"))
    val graded = result
      .join(arriving.select(col("url"), col("gold_entity")), "url")
      .join(clusterEntity, Seq("cluster_id"), "left_outer")
      .select(
        when(col("gold_entity") === -1L, col("cluster_id").isNull)
          .otherwise(col("cluster_id").isNotNull && col("maj_entity") === col("gold_entity"))
          .as("correct"),
        (col("gold_entity") === -1L).as("is_novel"),
        col("cluster_id").isNull.as("is_null"))
    val acc = graded.groupBy(col("is_novel"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("correct"), 1L).otherwise(0L)).as("ok"),
        sum(when(col("is_null"), 1L).otherwise(0L)).as("nulls"))
      .collect().map(r => (r.getBoolean(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val (knownN, knownOk, knownNull) =
      acc.collectFirst { case (false, n, ok, nl) => (n, ok, nl) }.getOrElse((0L, 0L, 0L))
    val (novelN, novelOk) = acc.collectFirst { case (true, n, ok, _) => (n, ok) }.getOrElse((0L, 0L))
    // known misses split: routed-to-NULL (blocking miss / gate reject at the
    // rep) vs routed-to-WRONG-entity cluster — different fixes
    val knownWrong = knownN - knownOk - knownNull
    println(f"""{"phase":"accuracy","known_n":$knownN,"known_acc":${if (knownN == 0) 0.0 else knownOk.toDouble / knownN}%.4f,"known_null":$knownNull,"known_wrong":$knownWrong,"novel_n":$novelN,"novel_acc":${if (novelN == 0) 0.0 else novelOk.toDouble / novelN}%.4f}""")
    Console.flush()
    spark.stop()
  }
}
