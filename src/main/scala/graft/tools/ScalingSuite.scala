package graft.tools

import org.apache.spark.sql.SparkSession

import graft.ingest.CorpusGen
import graft.pipeline.ErPipeline

/**
 * North-rule scaling measurement, all core counts in ONE JVM:
 *
 *   ScalingSuite <corpusDir> <coresCsv e.g. 32,8,2,32,8,2> <timedRuns> [deadlineEpochSec]
 *
 * prints one `SCALING <cores> <sec>` line IMMEDIATELY after each scheduled
 * point (the caller streams these, so a kill/timeout degrades the
 * measurement instead of zeroing it — round-2's bench timed out holding all
 * results until exit and shipped nothing). Points that would run past the
 * deadline are skipped with a `SCALING_SKIP <cores> <reason>` line — never
 * silently.
 *
 * Why one JVM (vs the round-1 fresh-JVM-per-point): this Firecracker guest
 * runs virtio-balloon FREE PAGE REPORTING — memory freed by an exiting JVM
 * is returned to the host, and the next JVM's allocations refault every
 * page through VM exits, which serializes across vCPUs (measured 70-90%
 * system time and 13s-vs-178s bimodal wall-clock for identical runs). One
 * pre-touched heap that stays resident for all points removes that noise
 * source from the measurement.
 *
 * Per-point isolation inside the JVM:
 *  - the whole process is re-pinned with `taskset -pc 0-(cores-1)` so the
 *    point really runs on `cores` CPUs (GC, netty and JIT threads included,
 *    like an N-core executor host);
 *  - a fresh SparkSession with master=local[cores];
 *  - per-point JIT/codegen warm-up run, then best-of-N timed runs.
 *
 * Measurement order is HIGH cores first: any residual JIT/page-cache warmth
 * benefits the later LOW-core baseline, which can only UNDERSTATE the
 * reported N→4N efficiency (conservative direction). Both points get the
 * same heap (the 4N point's sizing) — extra memory for the low-core
 * baseline again only makes it faster, i.e. conservative.
 *
 * Why small file splits (the rationale graft.Bench's session config cites
 * for its 8 MB `maxPartitionBytes`; this suite's sizing is
 * `graft.ops.Sessions.scalingConfigs`): test corpora are tiny next to the default 128 MB
 * split size — a 60-220 MB corpus would coalesce to 1-3 scan partitions and
 * run the whole map side on 3 of N cores. A real cluster job over 100 TB
 * has millions of natural splits; small splits here recreate that shape.
 */
object ScalingSuite {

  /** Pin the whole process to a `cores`-wide CPU window. The window ROTATES
    * with the per-core-count sample index: the host sometimes throttles
    * specific vCPUs (observed: clean 1-thread canary on cpu0 with an
    * 8-thread canary 3× slower on cpus 0-7), so always pinning 0..n-1 would
    * re-sample the same bad cores every pass. Rotation costs nothing when
    * the host is uniform and diversifies the draw when it isn't. */
  private[tools] def pinSelf(cores: Int, sampleIdx: Int): Int = {
    val total = Runtime.getRuntime.availableProcessors()
    val start = (sampleIdx.toLong * cores % math.max(total, cores)).toInt
    val cpus = (0 until cores).map(i => (start + i) % math.max(total, cores))
    val pid = ProcessHandle.current().pid()
    val p = new ProcessBuilder("taskset", "-apc", cpus.mkString(","), pid.toString)
      .redirectErrorStream(true).start()
    p.waitFor()
    start
  }

  /** Single-core host-weather canary: a fixed deterministic ALU loop
    * (~1 s on an uncontended core). This host's effective CPU per
    * vCPU-second varies 2.5-4× on ~10-minute cycles (measured canary 2.3 s
    * vs 9.8 s with the guest idle), so every SCALING line carries the
    * canary measured right before it — the reader can see which samples
    * ran in host bad weather, and min-of-N lands on the clean ones. The
    * reported walls are NEVER canary-corrected. */
  private def canarySec(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 400000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 0) println("") // defeat dead-code elimination
    (System.nanoTime() - t0) / 1e9
  }

  /** Parallel canary: `n` threads of the same loop, all pinned inside the
    * current affinity mask. If the host really provides n cores, wall ≈
    * the single-thread time; effective parallelism = n·t1/tn. This exposes
    * host-side core capping that the single-core canary cannot see (a
    * "local[32]" point whose 32-thread canary runs 2.5× slower than its
    * 1-thread canary is really running on ~13 effective cores). */
  private def canaryParSec(n: Int): Double = {
    val t0 = System.nanoTime()
    val threads = (1 to n).map { _ =>
      val t = new Thread(() => {
        var x = 0x9e3779b97f4a7c15L
        var i = 0
        while (i < 400000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
        if (x == 0) println("")
      })
      t.start(); t
    }
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Single-thread MEMORY-BANDWIDTH canary: stream-sum a 256 MB long array
    * 4× (1 GB of traffic, ~0.1-0.4 s uncontended). The ALU canaries above
    * are blind to host co-tenant DRAM pressure, which is precisely what
    * inflates this memory-bound job's walls: a full bench run bracketed a
    * 259 s 2-core wall (clean floor ~195 s on the same binary/corpus) with
    * 0.77 ALU canaries on both sides and a quiet in-run probe. Allocated
    * once and pre-touched so the measurement is reads, not page faults. */
  private val memCanaryArr: Array[Long] = {
    val a = new Array[Long](32 << 20)
    var i = 0
    while (i < a.length) { a(i) = i.toLong; i += 1024 } // touch every page
    a
  }
  private def canaryMemSec(): Double = {
    val t0 = System.nanoTime()
    var s = 0L
    var pass = 0
    while (pass < 4) {
      var i = 0
      while (i < memCanaryArr.length) { s += memCanaryArr(i); i += 1 }
      pass += 1
    }
    if (s == 42) println("") // defeat dead-code elimination
    (System.nanoTime() - t0) / 1e9
  }

  /** One memory-canary BRACKET = median of 3 draws: a single 1 GB stream
    * is a high-variance instant (observed 0.176-0.261 s across minutes of
    * steady clean weather — and a 0.261 draw bracketing the fastest 2-core
    * wall ever measured), so one hot draw must not poison a bracket. */
  private def memBracketSec(): Double = {
    val d = Array(canaryMemSec(), canaryMemSec(), canaryMemSec())
    java.util.Arrays.sort(d)
    d(1)
  }

  /** Pointer-chase LATENCY canary: walk a Sattolo single-cycle permutation
    * over a 64 MB int array (beyond LLC), 4M dependent hops per draw
    * (~0.3-0.5 s uncontended). Third contention axis: the ALU canary sees
    * per-cycle CPU theft, the streaming canary sees DRAM-bandwidth theft,
    * but NEITHER sees LLC/row-buffer pressure — prefetchers hide it from
    * sequential streams while dependent random loads eat the full latency,
    * exactly like the hash-probe stages that dominate this job (observed:
    * a run whose 2-core walls sat 35% over their clean floor with every
    * ALU and stream canary flat published an impossible eff > 1). */
  private val chaseArr: Array[Int] = {
    val n = 16 << 20 // 16M ints = 64 MB
    val a = Array.tabulate(n)(i => i)
    var seed = 0x9e3779b9
    var i = n - 1
    while (i > 0) { // Sattolo: j strictly below i → one full cycle
      seed = seed * 1103515245 + 12345
      val j = math.floorMod(seed, i)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }
  private def canaryLatSec(): Double = {
    val t0 = System.nanoTime()
    var p = 0
    var i = 0
    while (i < (4 << 20)) { p = chaseArr(p); i += 1 }
    if (p == -1) println("") // defeat dead-code elimination
    (System.nanoTime() - t0) / 1e9
  }
  /** Latency bracket = median of 3 draws (same rationale as memBracketSec). */
  private def latBracketSec(): Double = {
    val d = Array(canaryLatSec(), canaryLatSec(), canaryLatSec())
    java.util.Arrays.sort(d)
    d(1)
  }

  /** Start the probe JVM on `cpu`; returns (process, max-seen getter). */
  private def startWeatherProbe(cpu: Int): (Process, () => Double) = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val pb = new ProcessBuilder("taskset", "-c", cpu.toString, javaBin,
      "-Xms64m", "-Xmx64m", "-cp", System.getProperty("java.class.path"),
      "graft.tools.WeatherProbe", "5000")
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val maxSeen = new java.util.concurrent.atomic.AtomicLong(0L) // bits of a Double
    val reader = new Thread(() => {
      val src = scala.io.Source.fromInputStream(proc.getInputStream)
      try src.getLines().foreach { l =>
        if (l.startsWith("PROBE ")) {
          val v = l.stripPrefix("PROBE ").toDouble
          maxSeen.updateAndGet(prev =>
            java.lang.Double.doubleToLongBits(
              math.max(java.lang.Double.longBitsToDouble(prev), v)))
        }
      } catch { case _: Throwable => () } finally src.close()
    })
    reader.setDaemon(true)
    reader.start()
    (proc, () => java.lang.Double.longBitsToDouble(maxSeen.get()))
  }

  def main(args: Array[String]): Unit = {
    val corpusDir = args(0)
    val coreList = args(1).split(",").map(_.trim.toInt).toSeq
    val runs = if (args.length > 2) args(2).toInt else 1
    val deadline = if (args.length > 3) args(3).toLong else Long.MaxValue

    // ONE job config for every point (the north rule compares the same job
    // at two cluster sizes; a per-size shuffle-partition count would be a
    // different job). Sized for the largest point; AQE coalesces downward.
    // The env override exists so ad-hoc (8,2)-only runs can reproduce the
    // bench's exact config (whose schedule includes the 32-core point →
    // static 64) — it is ONE value for all points, never per-size.
    val shufflePartitions = sys.env.get("GRAFT_STATIC_PARTS").map(_.toInt)
      .getOrElse(coreList.max * 2)

    // Warm the host page cache over the corpus ONCE, before any timed
    // sample: the first sample of a freshly generated (or freshly booted)
    // corpus otherwise pays cold-read inflation that no CPU canary can see
    // (round-5: first 8-core sample 112 s vs 72 s warm on the same corpus,
    // and a cold+throttled 2-core sample then poisoned the deadline
    // estimator). Sequential byte drain, excluded from all timing.
    {
      val dir = java.nio.file.Paths.get(corpusDir)
      if (java.nio.file.Files.isDirectory(dir)) {
        val buf = new Array[Byte](1 << 20)
        scala.util.Using.resource(java.nio.file.Files.list(dir)) { st =>
          st.forEach { p =>
            if (java.nio.file.Files.isRegularFile(p)) {
              try scala.util.Using.resource(java.nio.file.Files.newInputStream(p)) { in =>
                while (in.read(buf) >= 0) ()
              } catch { case _: java.io.IOException => () }
            }
          }
        }
      }
    }

    // rolling wall estimate per core count for the deadline guard — the
    // MINIMUM observed wall, not the last: a single weather-inflated
    // sample (observed: 540 s vs 256 s warm-clean at 2 cores) would
    // otherwise veto every remaining sample at that core count, starving
    // exactly the side the rule ratio needs
    val lastWall = scala.collection.mutable.Map.empty[Int, Double]
    val sampleIdx = scala.collection.mutable.Map.empty[Int, Int].withDefaultValue(0)
    // one-time FULL-CORPUS warm pass (first point only, discarded): the
    // 2000-doc per-point warmup compiles the small-plan codegen, but AQE
    // gives the big corpus different plan shapes, and their janino
    // compilation otherwise lands in the suite's first timed sample —
    // observed as a consistent first-point tax across four suites (first
    // in-suite 8-core walls 62-103 s vs 45-60 s for every later sample).
    // Spark's generated-class cache is JVM-static, so one discarded big
    // run amortizes it for every following point and core count.
    var warmedBig = false

    coreList.foreach { cores =>
      val estimate = lastWall.getOrElse(cores, 60.0) * (runs + 0.5)
      if (System.currentTimeMillis() / 1000 + estimate > deadline) {
        println(s"SCALING_SKIP $cores deadline")
        Console.flush()
      } else {
        val winStart = pinSelf(cores, sampleIdx(cores))
        sampleIdx(cores) += 1
        val spark = graft.ops.Sessions
          .scaling(cores, shufflePartitions, s"graft-scaling-$cores").getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")

        def runCorpus(): Unit = ErPipeline.run(spark.read.parquet(corpusDir)
          .as[graft.schema.Page](org.apache.spark.sql.Encoders.product[graft.schema.Page])).count()
        // JIT/codegen warm-up at this core count (excluded from timing)
        ErPipeline.run(CorpusGen.pages(spark, 2000L, seed = 7L, partitions = cores)).count()
        if (!warmedBig) { runCorpus(); warmedBig = true }

        // host-weather canary BEFORE the timed window (paired with one
        // after and with the in-run WeatherProbe below; the reported canary
        // is the WORST of the three, so a throttle phase starting, ending,
        // or sitting entirely INSIDE the run can't masquerade as a clean
        // sample — round-3 published only a post-run canary and the
        // driver's minima landed on samples whose cleanliness was
        // unknowable; a round-4 trial caught a 5×-throttled run whose
        // pre AND post canaries both read clean)
        val canaryPre = canarySec()
        val canaryMemPre = memBracketSec()
        val canaryLatPre = latBracketSec()
        // in-run probe on the first CPU past the job's window (host
        // throttling is VM-wide, so an outside-mask observer sees it
        // without perturbing the pinned job); absent when the job owns
        // every CPU
        val total = Runtime.getRuntime.availableProcessors()
        val probe = if (cores < total) {
          try Some(startWeatherProbe((winStart + cores) % total))
          catch { case _: Throwable => None }
        } else None

        def timed(): Double = {
          val t0 = System.nanoTime()
          runCorpus()
          (System.nanoTime() - t0) / 1e9
        }
        val best = (timed() +: (2 to runs).map(_ => timed())).min
        // canary = worst of the two point-in-time brackets (tight gate);
        // canary_during = worst in-run probe sample (separate, LOOSER gate
        // in Bench: a max over ~30 draws is statistically above a single
        // draw even in steady weather, so it only vetoes clear throttling)
        val canaryDuring = probe.map(_._2()).getOrElse(0.0)
        probe.foreach(_._1.destroyForcibly())
        val canaryPost = canarySec()
        val canaryMemPost = memBracketSec()
        val canaryLatPost = latBracketSec()
        val canaryLat = math.min(canaryLatPre, canaryLatPost)
        val canary = math.max(canaryPre, canaryPost)
        // MIN of the two bracket medians: sustained DRAM pressure spanning
        // the run elevates BOTH brackets, so the min is elevated exactly
        // when the signature is present; pressure touching only one edge
        // leaves the min clean (tolerated — partial overlap inflates the
        // wall far less than the sustained case the gate exists for)
        val canaryMem = math.min(canaryMemPre, canaryMemPost)
        val canaryPar = canaryParSec(cores)
        spark.stop()
        lastWall(cores) = math.min(lastWall.getOrElse(cores, Double.MaxValue), best)
        println(f"SCALING $cores $best%.2f canary=$canary%.2f canary_par=$canaryPar%.2f canary_during=$canaryDuring%.2f canary_mem=$canaryMem%.3f canary_lat=$canaryLat%.3f canary_pre=$canaryPre%.2f canary_post=$canaryPost%.2f cpu_window=$winStart")
        Console.flush()
      }
    }
  }
}
