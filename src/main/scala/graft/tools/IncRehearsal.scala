package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._

import graft.block.Blocking
import graft.ingest.CorpusGen
import graft.pipeline.ErPipeline
import graft.streaming.EntityAssign

/**
 * Batch-incremental ER dress rehearsal: the daily operation at 10^12 docs —
 * fold a crawl increment into an existing ER state — run at 100×+ the
 * suite-test scale, against the same full-rebuild job it replaces.
 *
 * `IncRehearsal <nTotal> <cores> [corpusDir]` (default 3.3M docs: a 3M-doc
 * standing corpus + a ~300k-doc arriving batch, split deterministically by
 * url hash so batch docs include clone-cluster members whose siblings live
 * in the corpus, whole novel clusters, and no-edge singletons).
 *
 * Phases (each its own JSON line; corpus generation and JIT warm-up
 * excluded, shuffle-write telemetry per phase):
 *   1. `er_build_old`     — offline [[ErPipeline.run]] over the standing
 *                           corpus: the state a real deployment builds once.
 *   2. `artifact_mint`    — the artifacts [[ErPipeline.incremental]] feeds
 *                           on: the frozen DF-stop set
 *                           ([[EntityAssign.corpusStops]] — corpus
 *                           statistics freeze at store-build time, the
 *                           round-5 online-assignment lesson) and the
 *                           feature snapshot (url, mention, sig). A
 *                           checkpointed production run gets these for free
 *                           as stage snapshots; minting them standalone is
 *                           charged to the BUILD side, never the increment.
 *   3. `er_incremental`   — featurize the batch against the FROZEN stops
 *                           ([[EntityAssign.pageFeatures]]) + fold it in.
 *   4. `er_full_rebuild`  — the A/B: [[ErPipeline.run]] over corpus ∪ batch,
 *                           what a deployment without the incremental path
 *                           pays per increment.
 *   5. `quality`          — pairwise F1 vs the generator's planted gold for
 *                           BOTH final states, at a scale (≈660k entities at
 *                           3.3M docs) where the name-collision regime is
 *                           ~5× denser than the 600k-doc corpus the
 *                           conjunctive gate was tuned at — per the round-5
 *                           lesson, quality gates must include a sample at
 *                           the scale where the failure class exists.
 */
object IncRehearsal {
  def main(args: Array[String]): Unit = {
    val nTotal = if (args.length > 0) args(0).toLong else 3300000L
    val cores = if (args.length > 1) args(1).toInt else 32
    val corpusDir = if (args.length > 2) args(2) else s"/tmp/graft-inc-corpus-$nTotal"
    // batch share = 1/batchDenom of the corpus (11 ≈ a 9% increment; 101 ≈
    // the ~1% daily-crawl regime the fold is actually built for)
    val batchDenom = if (args.length > 3) args(3).toInt else 11

    // the rehearsal session (Sessions.rehearsal), as in DressRehearsal.
    // 2:1 toward tmpfs: the guest's /tmp is thin-provisioned (~70 GB real
    // headroom despite a 252 GB df size) and the first 3.3M-doc fold run
    // ENOSPC'd it when local dirs split shuffle+spill bytes 1:1. tmpfs
    // bytes are RAM bytes, though — the second run OOM-killed the host at
    // 60 GB of shm shuffle + a 68 GB JVM. BOTH failures were symptoms of
    // the same disease: the fold phase's unpoliced batch×block cross join
    // (fixed in ErPipeline.incremental / Blocking.deltaCandidatePairs —
    // hot blocks now pair each fresh doc with ±snWindow neighbors, so the
    // fold shuffles MBs, not tens of GBs). The 2:1 shm split stays as
    // headroom for /tmp's thin provisioning, now far inside RAM budget.
    val spark = graft.ops.Sessions.rehearsal(cores, nTotal,
        "/dev/shm/graft-spark-rehearsal-a,/dev/shm/graft-spark-rehearsal-b,/tmp/graft-spark-local",
        "graft-inc-rehearsal")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        shuffleBytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    })
    // stage-completed events post asynchronously; settle before reading
    def settledGb(): Double = { Thread.sleep(2000); shuffleBytes.getAndSet(0L) / 1e9 }
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    implicit val pageEnc: org.apache.spark.sql.Encoder[graft.schema.Page] =
      org.apache.spark.sql.Encoders.product[graft.schema.Page]

    if (!new java.io.File(s"$corpusDir/_SUCCESS").exists()) {
      val (_, genSec) = timed {
        CorpusGen.pages(spark, nTotal, seed = 42L, partitions = cores * 4,
            paragraphs = 6, paraWords = 80)
          .write.mode("overwrite").parquet(corpusDir)
      }
      println(f"""{"phase":"corpus_gen","docs":$nTotal,"sec":$genSec%.1f}""")
    }

    val all = spark.read.parquet(corpusDir).as[graft.schema.Page]
    val isNew = pmod(xxhash64(col("url")), lit(batchDenom)) === 0
    val oldPages = all.filter(!isNew)
    val batch = all.filter(isNew)
    val (nOld, nBatch) = (oldPages.count(), batch.count())
    println(f"""{"phase":"split","old_docs":$nOld,"batch_docs":$nBatch}""")

    // JIT/codegen warm-up over both codepaths (excluded from timed phases)
    locally {
      val w = CorpusGen.pages(spark, 2000L, seed = 7L, partitions = cores)
      val wOld = w.filter(pmod(xxhash64(col("url")), lit(4)) =!= 0)
      val wNew = w.filter(pmod(xxhash64(col("url")), lit(4)) === 0)
      val wAssign = ErPipeline.run(wOld).localCheckpoint(true)
      val wStops = EntityAssign.corpusStops(wOld.toDF)
      val wFeats = Blocking.features(wOld).select(col("url"), col("mention"), col("sig"))
      ErPipeline.incremental(
        wFeats, wAssign, EntityAssign.pageFeatures(wNew.toDF, wStops)).count()
    }
    settledGb()

    // ---- 1. offline build over the standing corpus
    val (oldAssign, buildSec) = timed {
      val a = ErPipeline.run(oldPages).localCheckpoint(true); a.count(); a
    }
    println(f"""{"phase":"er_build_old","docs":$nOld,"sec":$buildSec%.1f,"docs_per_sec":${nOld / buildSec}%.0f,"shuffle_write_gb":${settledGb()}%.2f}""")
    Console.flush()

    // ---- 2. the artifacts a checkpointed build leaves behind
    val ((stops, oldFeats), mintSec) = timed {
      val st = EntityAssign.corpusStops(oldPages.toDF).localCheckpoint(true)
      val f = Blocking.features(oldPages)
        .select(col("url"), col("mention"), col("sig")).localCheckpoint(true)
      f.count(); (st, f)
    }
    println(f"""{"phase":"artifact_mint","sec":$mintSec%.1f,"shuffle_write_gb":${settledGb()}%.2f}""")
    Console.flush()

    // ---- 3. the increment: featurize against FROZEN stops, fold in
    val (incAssign, incSec) = timed {
      val newFeats = EntityAssign.pageFeatures(batch.toDF, stops)
      val r = ErPipeline.incremental(oldFeats, oldAssign, newFeats)
        .localCheckpoint(true)
      r.count(); r
    }
    println(f"""{"phase":"er_incremental","batch_docs":$nBatch,"sec":$incSec%.1f,"batch_docs_per_sec":${nBatch / incSec}%.0f,"shuffle_write_gb":${settledGb()}%.2f}""")
    Console.flush()

    // ---- 4. the A/B it replaces: full rebuild over corpus ∪ batch
    val (fullAssign, fullSec) = timed {
      val r = ErPipeline.run(all).localCheckpoint(true); r.count(); r
    }
    println(f"""{"phase":"er_full_rebuild","docs":$nTotal,"sec":$fullSec%.1f,"docs_per_sec":${nTotal / fullSec}%.0f,"shuffle_write_gb":${settledGb()}%.2f,"speedup_vs_incremental":${fullSec / incSec}%.1f}""")
    Console.flush()

    // ---- 5. quality of both final states vs planted gold
    val gold = CorpusGen.goldPairs(spark, nTotal, seed = 42L,
      partitions = cores * 4).localCheckpoint(true)
    val incRes = graft.eval.PairwiseF1.evaluate(gold, incAssign)
    val fullRes = graft.eval.PairwiseF1.evaluate(gold, fullAssign)
    val incClusters = incAssign.select("cluster_id").distinct().count()
    println(f"""{"phase":"quality","gold_pairs":${gold.count()},"inc":{"p":${incRes.precision}%.4f,"r":${incRes.recall}%.4f,"f1":${incRes.f1}%.4f,"clusters":$incClusters},"full":{"p":${fullRes.precision}%.4f,"r":${fullRes.recall}%.4f,"f1":${fullRes.f1}%.4f}}""")
    Console.flush()
    spark.stop()
  }
}
