package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import graft.ingest.CorpusGen
import graft.pipeline.ErPipeline

/**
 * 100×-scale dress rehearsal (BASELINE.md): one multi-million-document run
 * of the flagship ER pipeline plus the full-strength MinHash near-dup
 * pipeline at local[32], with the telemetry the 100 TB design claims rest
 * on — wall clock, per-stage and total shuffle volume. At ≥3M docs the
 * scored edge set (~2.4M+ edges) exceeds the CC local-finish budget, so
 * the distributed star rounds — the code path a real cluster would spend
 * its time in — actually execute, unlike at bench scale.
 *
 *   DressRehearsal [nDocs=3000000] [cores=32] [corpusDir]
 *
 * Prints one JSON line per phase and a final summary line.
 */
object DressRehearsal {

  private final class ShuffleStats extends SparkListener {
    val lock = new Object
    var totalShuffleWrite = 0L
    var peakStageShuffleWrite = 0L
    var peakStageName = ""
    var stages = 0
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = lock.synchronized {
      val w = sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
      totalShuffleWrite += w
      stages += 1
      if (w > peakStageShuffleWrite) {
        peakStageShuffleWrite = w
        peakStageName = sc.stageInfo.name.takeWhile(_ != '\n').take(60)
      }
    }
    def resetWindow(): (Long, Long, String, Int) = lock.synchronized {
      val out = (totalShuffleWrite, peakStageShuffleWrite, peakStageName, stages)
      totalShuffleWrite = 0L; peakStageShuffleWrite = 0L; peakStageName = ""; stages = 0
      out
    }
    /** Listener events are posted asynchronously: a just-finished job's last
      * stage-completed events can still be in flight when the timed call
      * returns. Settle before reading/clearing, else trailing events are
      * missed or bleed into the next phase's telemetry window. */
    def resetWindowSettled(): (Long, Long, String, Int) = {
      Thread.sleep(3000)
      resetWindow()
    }
  }

  def main(args: Array[String]): Unit = {
    val nDocs = if (args.length > 0) args(0).toLong else 3000000L
    val cores = if (args.length > 1) args(1).toInt else 32
    val corpusDir = if (args.length > 2) args(2) else s"/tmp/graft-rehearsal-corpus-$nDocs"
    // comma-separated phase filter ("er,minhash"): rerun one phase without
    // paying the other's ~20 min
    val phases = (if (args.length > 3) args(3) else "er,minhash").split(",").toSet

    // survival configs (window spill threshold, periodic GC, zstd shuffle,
    // driver result ceiling) come from Sessions.builder — they were proven
    // HERE and now ship in every production session, not just this tool
    val spark = graft.ops.Sessions.builder(cores, "graft-dress-rehearsal")
      // Shuffle partitions sized from the DATA, not the core count: at 6M
      // rows × ~1 KB of minhash/feature state, 64 partitions put ~100 MB of
      // row data (several × that in object overhead) into every aggregation
      // task and the run died with UNABLE_TO_ACQUIRE_MEMORY at any join
      // strategy; ~50k rows per partition keeps per-task state comfortably
      // inside its execution-memory share, and AQE coalesces the cheap
      // stages back down by size. This is the knob a 100 TB run sets first.
      .config("spark.sql.shuffle.partitions",
        math.max(cores * 2, (2 * nDocs / 50000).toInt).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (32L * 1024 * 1024).toString)
      .config("spark.sql.files.maxPartitionBytes", (32L * 1024 * 1024).toString)
      // Spark default join preference (sort-merge) kept ON PURPOSE, unlike
      // the bench/scaling sessions: SHJ's build map cannot spill, and at
      // 6M docs a single attach-join build partition exceeded its execution
      // memory share (SparkOutOfMemoryError in the first rehearsal run) —
      // SMJ spills and finishes. SHJ is a latency win only while the build
      // side fits per-task memory, i.e. at bench scale, never at 100 TB.
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", (16L * 1024 * 1024).toString)
      // shuffle/spill spread across BOTH disks (Spark round-robins blocks
      // over the list): the rehearsal's live shuffle set peaked past the
      // 72 GB ext4 headroom; adding tmpfs doubles it. A real cluster does
      // the same with multiple instance volumes per executor.
      .config("spark.local.dir", "/tmp/graft-spark-local,/dev/shm/graft-spark-rehearsal")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val stats = new ShuffleStats
    spark.sparkContext.addSparkListener(stats)

    // peak concurrent on-disk footprint of spark.local.dir (shuffle +
    // spills), sampled every 5 s — the number a cluster's instance-disk
    // sizing actually needs (total shuffle WRITE overstates it once the
    // periodic GC reclaims dead files)
    val peakLocalDisk = new java.util.concurrent.atomic.AtomicLong(0L)
    val diskSampler = new Thread(() => {
      val dirs = Seq("/tmp/graft-spark-local", "/dev/shm/graft-spark-rehearsal")
        .map(java.nio.file.Paths.get(_))
      while (true) {
        try {
          // Files.walk holds open directory handles until closed — the
          // sampler re-walks every 5 s for the whole run, so rely on
          // Using (try-finally close), not GC, to release the fds
          val sz = dirs.filter(java.nio.file.Files.isDirectory(_)).map { dir =>
            scala.util.Using.resource(java.nio.file.Files.walk(dir)) { st =>
              st.filter(java.nio.file.Files.isRegularFile(_))
                .mapToLong(p => try java.nio.file.Files.size(p) catch { case _: java.io.IOException => 0L })
                .sum()
            }
          }.sum
          peakLocalDisk.updateAndGet(math.max(_, sz))
        } catch {
          // files vanish mid-walk as the cleaner deletes dead shuffle
          // blocks; skip the sample rather than kill the sampler
          case _: java.io.IOException | _: java.io.UncheckedIOException => ()
        }
        Thread.sleep(5000)
      }
    })
    diskSampler.setDaemon(true)
    diskSampler.start()

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def gb(b: Long): Double = b / 1e9

    // ---- corpus (generation excluded from the measured phases)
    if (!new java.io.File(s"$corpusDir/_SUCCESS").exists()) {
      val (_, genSec) = timed {
        CorpusGen.pages(spark, nDocs, seed = 42L, partitions = cores * 4,
            paragraphs = 6, paraWords = 80)
          .write.mode("overwrite").parquet(corpusDir)
      }
      println(f"""{"phase":"corpus_gen","docs":$nDocs,"sec":$genSec%.1f}""")
    }
    stats.resetWindow()

    def peakDiskAndReset(): Double = gb(peakLocalDisk.getAndSet(0L))

    if (phases("er")) {
      // JIT/codegen warm-up (excluded from the timed phase)
      ErPipeline.run(CorpusGen.pages(spark, 2000L, seed = 7L, partitions = cores)).count()
      stats.resetWindowSettled(); peakDiskAndReset()

      // ---- flagship ER pipeline
      val pages = spark.read.parquet(corpusDir)
        .as[graft.schema.Page](org.apache.spark.sql.Encoders.product[graft.schema.Page])
      val (assignedRows, erSec) = timed { ErPipeline.run(pages).count() }
      val (erShuffle, erPeak, erPeakName, erStages) = stats.resetWindowSettled()
      println(f"""{"phase":"er_pipeline","docs":$nDocs,"sec":$erSec%.1f,"docs_per_sec":${nDocs / erSec}%.0f,"assigned_rows":$assignedRows,"shuffle_write_gb":${gb(erShuffle)}%.2f,"peak_stage_shuffle_gb":${gb(erPeak)}%.2f,"peak_local_dir_gb":${peakDiskAndReset()}%.2f,"peak_stage":"$erPeakName","stages":$erStages}""")
      Console.flush()
    }

    if (phases("minhash")) {
      graft.dedup.Dedup.minhashNearDupGroups(
        CorpusGen.pages(spark, 2000L, seed = 7L, partitions = cores)
          .selectExpr("url AS doc_id", "text"), "doc_id", "text").count()
      stats.resetWindowSettled(); peakDiskAndReset()

      // ---- full-strength MinHash near-dup over the same corpus (each page
      //      + a planted clone → known dup structure at full volume)
      val docs = spark.read.parquet(corpusDir)
        .selectExpr("url AS doc_id", "text")
      val cloned = docs.unionByName(
        docs.selectExpr("concat(doc_id, '#clone') AS doc_id", "text"))
      val (dupGroups, mhSec) = timed {
        graft.dedup.Dedup.minhashNearDupGroups(cloned, "doc_id", "text").count()
      }
      val (mhShuffle, mhPeak, mhPeakName, mhStages) = stats.resetWindowSettled()
      println(f"""{"phase":"dedup_minhash_full","docs":${nDocs * 2},"sec":$mhSec%.1f,"docs_per_sec":${nDocs * 2 / mhSec}%.0f,"rows":$dupGroups,"shuffle_write_gb":${gb(mhShuffle)}%.2f,"peak_stage_shuffle_gb":${gb(mhPeak)}%.2f,"peak_local_dir_gb":${peakDiskAndReset()}%.2f,"peak_stage":"$mhPeakName","stages":$mhStages}""")
      Console.flush()
    }
    spark.stop()
  }
}
