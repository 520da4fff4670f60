package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.StaticSQLConf

/**
 * Shared SparkSession configuration for every production entry point (Main,
 * Bench, Verify, ScalingSuite, the rehearsals, Inspect and the erbench
 * runner).
 *
 * Three sizing recipes sit on top of [[builder]], each kept as data so
 * SessionsSpec can pin it:
 *  - [[bench]]: the `graft.Bench` headline-query session, used by
 *    `tools/BenchExtra` and by `tools/Inspect` for query targets. Bench
 *    itself keeps a frozen literal copy (the measurement contract).
 *  - [[scaling]]: the north-rule ER scaling session, used by
 *    `tools/ScalingSuite` (Bench's scaling child) and by `tools/Inspect`
 *    for the `er` target.
 *  - [[rehearsal]]: the data-sized session of the three rehearsal tools
 *    (`tools/DressRehearsal`, `IncRehearsal`, `AssignRehearsal`).
 *
 * `survival` carries the settings the 100×-scale dress rehearsal proved
 * necessary (BASELINE.md "failure→fix lessons") — they used to live only in
 * the rehearsal tool, which meant the library's own sessions would re-hit
 * the same per-executor failures at scale:
 *
 *  - `spark.sql.windowExec.buffer.in.memory.threshold=512`: WindowExec holds
 *    the first N rows of every group in an UNSPILLABLE in-memory buffer
 *    (default 4096). The sorted-neighborhood `lead()` window buffers whole
 *    hot-band groups, and 32 concurrent tasks × thousands of unspillable
 *    rows drained the task-memory pool before any task could even create
 *    its spill sorter (the 16 KB init allocation is what failed at a 32 GB
 *    heap / 6M docs). Registering buffers with the memory manager from row
 *    512 makes them evictable under pressure instead.
 *  - `spark.cleaner.periodicGC.interval=2min`: shuffle files are deleted
 *    only when the ContextCleaner GCs the dead ShuffleDependency, and a
 *    large mostly-idle heap can go 30+ min without a full GC — the first
 *    3M-doc run filled the disk with ~35 GB of DEAD shuffle files mid-CC
 *    loop. A periodic GC bounds concurrent shuffle footprint to the live
 *    working set (same failure and fix per-executor on a real cluster).
 *  - `spark.io.compression.codec=zstd`: the near-dup/ER shuffles carry
 *    shingle/minhash arrays and mention text — zstd roughly halves their
 *    on-disk and in-flight footprint vs the lz4 default for single-digit %
 *    CPU. Shuffle bytes are the binding resource on instance disks and on
 *    this memory-bandwidth-capped guest alike.
 *  - `spark.driver.maxResultSize=4g`: the ANN top-up collects bounded
 *    query chunks (graft.ann.Ann.completeTopK), and a run near that budget
 *    must not die on the 1g default ceiling. The CC local finish collects
 *    ≤ 64 MB (2M pairs of 128-bit ids, graft.cluster.ConnectedComponents'
 *    fixed driver budget), inside the default either way.
 *
 * Two more entries are host and per-call costs, not rehearsal lessons:
 * `spark.file.transferTo=false` (reason at the entry) and
 * `spark.sql.codegen.cache.maxEntries` ([[CodegenCacheMaxEntries]]), which
 * lets a long-lived JVM compile each ER plan once instead of on every call.
 * The latter is a STATIC conf: Spark builds its generated-class cache once
 * per JVM, from the conf of the session active at the first code
 * generation, so the first session in a JVM fixes the size. A library
 * caller who builds their own session instead of using [[builder]] gets
 * Spark's 100 entries, and every warm ER call recompiles most of its plan.
 */
object Sessions {

  /** Entries of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100).
    *
    * The two ER entry points together generate more classes than 100, so
    * with the default every warm call evicted and recompiled most of its
    * plan: `Inspect profile` on 4 cores counted 80-81 classes per warm
    * `runCheckpointed` call and 28-49 per warm `run` call (0.5-0.9 s of
    * Janino compile time each), and a warm round of both in the test
    * session 158. The compiles run in the first task of every stage, so
    * they were part of the fixed per-call floor, owned by no ER layer.
    *
    * Sized as twice the largest class working set measured: the distinct
    * classes compiled in one JVM under an unbounded cache were 477 for a
    * traced erbench er_batch run, 473 for a traced er_hotkeys_ckpt run
    * (each with its staged layer calls and extra operators) and 1,192 for
    * one `graft.Verify` pass over sf0.01 (all 66 queries); 2 × 1,192,
    * rounded up. Classes stay loaded while cached, so metaspace grows with
    * the working set, not with the cap: at the end of a whole erbench JVM
    * (after a GC) 163.1 → 163.5 MB on er_hotkeys_ckpt and 161.3 → 161.5 MB
    * on er_batch, and 176.6 → 184.9 MB after the Verify pass, at 100 →
    * 2400 entries.
    */
  final val CodegenCacheMaxEntries = 2400

  /** The dress-rehearsal survival settings (see object doc), as data so
    * SessionsSpec can pin them — a refactor that drops one must fail a
    * test, not resurface as an OOM at the next 6M-doc run. */
  val survivalConfigs: Map[String, String] = Map(
    "spark.sql.windowExec.buffer.in.memory.threshold" -> "512",
    "spark.cleaner.periodicGC.interval" -> "2min",
    "spark.io.compression.codec" -> "zstd",
    "spark.driver.maxResultSize" -> "4g",
    // BypassMergeSortShuffleWriter concatenates its per-reducer files with
    // FileChannel.transferTo, which mmaps and munmaps every segment; on
    // this Firecracker guest every map/unmap is a VM-exit/TLB-shootdown
    // storm (the same pathology run_java.sh documents for heap paging).
    // Thread-dump sampling of a warm dedup_minhash_full run caught the
    // majority of RUNNABLE task samples inside FileChannelImpl.map0/unmap0
    // under BypassMergeSortShuffleWriter.writePartitionedDataWithChannel —
    // shuffle-map stages at 13 s summed task time with only 1.7 s of
    // executor CPU. Plain stream copy avoids the mapping; on hosts with
    // sane mmap cost the difference is a wash for the KB-to-MB segment
    // sizes this engine shuffles (transferTo's zero-copy win is for
    // GB-scale segments).
"spark.file.transferTo" -> "false",
    // reason and sizing at CodegenCacheMaxEntries
    StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key -> CodegenCacheMaxEntries.toString)

  /** Apply [[survivalConfigs]]. Used by [[builder]]; exposed separately so
    * tools that build exotic sessions (e.g. the rehearsal itself) can
    * compose them explicitly. */
  def survival(b: SparkSession.Builder): SparkSession.Builder =
    survivalConfigs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** Base builder with the survival configs and the settings every entry
    * point shares (UTC, no UI). Callers layer their own sizing (shuffle
    * partitions, broadcast threshold, …) on top.
    *
    * Master resolution: an externally supplied master wins — spark-submit
    * publishes `--master` as the `spark.master` system property, and a
    * hardcoded `.master()` here would silently override it, turning every
    * cluster submission into a single-JVM local run. Only when nothing is
    * supplied (plain `sbt runMain`, tests) does the builder default to
    * `local[cores]`. */
  def builder(cores: Int, appName: String): SparkSession.Builder = {
    val base = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    survival(
      if (sys.props.get("spark.master").exists(_.nonEmpty)) base
      else base.master(s"local[$cores]"))
  }

  private val MB = 1024L * 1024

  /** The settings `graft.Bench.session` applies at `cores` cores. Bench keeps
    * its own frozen copy, which also carries the reasons. */
  def benchConfigs(cores: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> (cores * 2).toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> (32 * MB).toString,
    "spark.sql.files.maxPartitionBytes" -> (8 * MB).toString,
    "spark.sql.files.openCostInBytes" -> (512L * 1024).toString,
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (16 * MB).toString,
    "spark.local.dir" -> "/dev/shm/graft-spark")

  /** [[builder]] plus [[benchConfigs]]. */
  def bench(cores: Int, appName: String): SparkSession.Builder =
    builder(cores, appName).config(benchConfigs(cores))

  /** The north-rule scaling job's settings at `shufflePartitions` shuffle
    * partitions (see tools/ScalingSuite for why that count is one value
    * across core counts). */
  def scalingConfigs(shufflePartitions: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    "spark.sql.adaptive.enabled" -> "true",
    // 32 MB, NOT the round-2 128 MB: at ≥300k docs the feature table's
    // ESTIMATED size still fit 128 MB, so the attach joins planned as
    // broadcasts whose real deserialized build is ~1 GB — a
    // single-threaded driver-side stall that ate minutes of the
    // scaling points. A shuffle join is the correct plan at that size.
    "spark.sql.autoBroadcastJoinThreshold" -> (32 * MB).toString,
    // split size trades scan balance against TASK-DISPATCH FLOOR: the
    // cached feature table inherits the scan's partition count, and
    // stage telemetry at 900k docs showed ~9 downstream branch/AQE
    // stages re-scanning that cache NEAR-EMPTY (288 tasks each at 8 MB
    // splits ≈ 2.6k dispatched no-op tasks ≈ 5 s of driver-serial
    // floor, paid identically at every core count — exactly what the
    // N-vs-4N ratio is capped by). 32 MB → ~72 splits on the 2.3 GB
    // rule corpus: still 9 waves at 8 cores (the graded pair), one
    // fewer order of dispatch floor. A real 100 TB input has millions
    // of natural splits — split COUNT there is data-sized, and the
    // per-consumer dispatch cost amortizes over real bytes per task.
    "spark.sql.files.maxPartitionBytes" -> (32 * MB).toString,
    "spark.sql.files.openCostInBytes" -> (512L * 1024).toString,
    // hash joins over sort-merge where a side fits per-partition
    // memory: the attach/score joins shuffle ~1M+ rows whose sort adds
    // CPU at every point; SHJ skips both sorts (same answer, same
    // shuffle keys)
    "spark.sql.join.preferSortMergeJoin" -> "false",
    // finer post-shuffle targets keep CPU-heavy reduce stages at full
    // parallelism even when AQE coalesces by size
    // 16 MB kept after an A/B at 8 (theory said finer bins fix the
    // 12-task scoring stage's 8+4 wave at 8 cores; measurement said
    // the 2-core side sped up MORE — interleaved clean pairs read
    // eff 0.75 @16 MB vs 0.68 @8 MB at 150k docs, both within host
    // weather but consistently ordered).
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (16 * MB).toString,
    "spark.local.dir" -> "/tmp/graft-spark-local")

  /** [[builder]] plus [[scalingConfigs]]. */
  def scaling(cores: Int, shufflePartitions: Int, appName: String): SparkSession.Builder =
    builder(cores, appName).config(scalingConfigs(shufflePartitions))

  /** The rehearsal tools' settings for `rows` input rows on `cores` cores,
    * spilling to the comma-separated `localDirs` (each tool spreads its
    * shuffle over its own mix of disk and tmpfs).
    *
    * Shuffle partitions are sized from the DATA, not the core count: at 6M
    * rows × ~1 KB of minhash/feature state, 64 partitions put ~100 MB of row
    * data (several × that in object overhead) into every aggregation task
    * and the dress rehearsal died with UNABLE_TO_ACQUIRE_MEMORY at any join
    * strategy; ~50k rows per partition keeps per-task state comfortably
    * inside its execution-memory share, and AQE coalesces the cheap stages
    * back down by size. This is the knob a 100 TB run sets first.
    *
    * Spark's default join preference (sort-merge) is kept ON PURPOSE,
    * unlike the bench/scaling sessions: SHJ's build map cannot spill, and
    * at 6M docs a single attach-join build partition exceeded its execution
    * memory share (SparkOutOfMemoryError in the first rehearsal run) — SMJ
    * spills and finishes. SHJ is a latency win only while the build side
    * fits per-task memory, i.e. at bench scale, never at 100 TB. */
  def rehearsalConfigs(cores: Int, rows: Long, localDirs: String): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> math.max(cores * 2, (2 * rows / 50000).toInt).toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> (32 * MB).toString,
    "spark.sql.files.maxPartitionBytes" -> (32 * MB).toString,
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (16 * MB).toString,
    "spark.local.dir" -> localDirs)

  /** [[builder]] plus [[rehearsalConfigs]]. */
  def rehearsal(cores: Int, rows: Long, localDirs: String, appName: String)
      : SparkSession.Builder =
    builder(cores, appName).config(rehearsalConfigs(cores, rows, localDirs))
}
