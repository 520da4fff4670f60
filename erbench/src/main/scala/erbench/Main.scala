package erbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

/**
 * Runs one workload of the benchmark and prints one JSON result line:
 *
 * {{{
 * erbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *              --size <full|smoke> --benchmark BENCHMARK.json
 *              --spec erbench/workloads.json --work <scratch dir> --traces <dir>
 * }}}
 *
 * Set-up generates the corpus several times (the median is reported), then
 * makes one untimed warm-up call. Each timed run starts from a cleared
 * cache and is checked against the warm-up output's checksum; a mismatch
 * or an exception counts as failed and is left out of the medians. With
 * `--trace 1` the runs alternate a traced pass (staged layer calls, the
 * timed call under the `pipeline.run` span, further staged calls) with an
 * untraced call, the baseline of the tracing overhead, and every span is
 * written to `<traces>/<workload>-seed<n>.json`. Exits 1 on any error.
 */
object Main {
  /** Local Spark cores, as on the 4-core machine the sizes were chosen for. */
  val Cores = 4
  private val ShufflePartitions = 8
  /** Corpus generations in set-up; their median is charged to `setup_s`. */
  private val SetupRepetitions = 3
  /** Timed calls at least, so every median has a middle; `shuffle_mb`
    * comes from exactly this many calls. */
  private val MinRuns = 3

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

  private def log(msg: String): Unit = System.err.println(
    f"[erbench] +${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1fs $msg")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def session(cores: Int, shufflePartitions: Int, work: String): SparkSession = {
    // the settings graft.Bench times the engine under
    val s = graft.ops.Sessions.builder(cores, "erbench")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (32L * 1024 * 1024).toString)
      .config("spark.sql.files.maxPartitionBytes", (8L * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (512L * 1024).toString)
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", (16L * 1024 * 1024).toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val code =
      try { run(args); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    sys.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String): String = a.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val name = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val smoke = arg("size") == "smoke"
    val bench = Json.read(arg("benchmark"))
    val spec = Json.read(arg("spec"))
    val ws = Option(spec.get("workloads").get(name))
      .getOrElse(throw new IllegalArgumentException(s"unknown workload $name"))
    val g = ws.get("generator")
    val size = if (smoke) ws.get("smoke") else g
    def gi(k: String): Int = Option(size.get(k)).orElse(Option(g.get(k))).map(_.asInt)
      .getOrElse(throw new IllegalArgumentException(s"$name: generator has no $k"))
    val gen = Gen(gi("docs").toLong, gi("avgClusterSize"), gi("paragraphs"), gi("paraWords"),
      gi("partitions"), if (g.has("batchMod")) gi("batchMod") else 0)
    val work = arg("work")

    val spark = session(Cores, ShufflePartitions, work)
    try measure(spark, name, seed, seconds, trace, smoke, bench, gen, work, arg("traces"))
    finally spark.stop()
  }

  private def measure(spark: SparkSession, name: String, seed: Long, seconds: Double,
                      trace: Boolean, smoke: Boolean, bench: JsonNode,
                      gen: Gen, work: String, traces: String): Unit = {
    val sc = spark.sparkContext
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    log("session ready")
    val rec = new Recorder
    sc.addSparkListener(rec)
    val w = Workload(name, spark, gen, seed, work)

    def prepare(): Unit = {
      spark.catalog.clearCache()
      w.beforeRun()
      System.gc()
      Recorder.drain(sc)
      rec.reset()
    }

    // ---- set-up: corpus generation, repeated (median reported); then one
    // warm-up call, whose output is the reference every timed run must
    // reproduce. The warm-up runs once: a repeat would time a warm JVM.
    val reps = if (smoke || trace) 1 else SetupRepetitions
    val setups = (1 to reps).map { i =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      w.setup()
      val sec = (System.nanoTime() - t0) / 1e9
      val corpus = w.corpusChecksum()
      log(f"$name setup $i: $sec%.2f s, corpus $corpus")
      (sec, corpus)
    }
    val checks = mutable.ArrayBuffer[(String, Boolean)](
      "set-up repetitions generate the same corpus" -> (setups.map(_._2).distinct.size == 1))
    w.beforeRun()
    val warm0 = System.nanoTime()
    val out = w.call().localCheckpoint(eager = true)
    w.reference = Checksum.of(out).digest
    val warmS = (System.nanoTime() - warm0) / 1e9
    log(f"$name warm-up call: $warmS%.2f s, reference ${w.reference}")

    // ---- output quality, once per process, on the warm-up output
    val q = w.quality(out)
    checks ++= q.checks
    checks += "clone_recall is 1" -> (q.cloneRecall == 1.0)
    checks += "pairwise_f1 is 1" -> (q.pairwiseF1 == 1.0)
    log(f"$name quality: pairwise_f1=${q.pairwiseF1}%.5f clone_recall=${q.cloneRecall}%.5f")

    var attempted = 0
    var failed = 0
    /** One call of the timed workload; None (and counted failed) when it
      * throws or its output differs from the reference. */
    def attempt[T](what: String)(body: => (Checksum.Sum, T)): Option[T] = {
      attempted += 1
      try {
        val (sum, r) = body
        if (sum.digest == w.reference) Some(r)
        else { failed += 1; log(s"$what: checksum ${sum.digest} != ${w.reference}"); None }
      } catch {
        case NonFatal(e) => failed += 1; log(s"$what failed: $e"); e.printStackTrace(); None
      }
    }
    def timedCall(): (Checksum.Sum, Double) = {
      val t0 = System.nanoTime()
      val sum = Checksum.of(w.call())
      (sum, (System.nanoTime() - t0) / 1e9)
    }

    val values = mutable.LinkedHashMap.empty[String, Double]
    // whether any call succeeded: a run without one reports no metrics
    var measured = false
    val loopStart = System.nanoTime()
    val minRuns = if (smoke || trace) 1 else MinRuns
    def more: Boolean = attempted < minRuns ||
      (!smoke && (System.nanoTime() - loopStart) / 1e9 < seconds)

    if (!trace) {
      val runs = mutable.ArrayBuffer.empty[(Double, Double, Double, Double)]
      while (more) {
        prepare()
        val base = rec.storedMb
        attempt("timed run") {
          val (sum, wall) = timedCall()
          Recorder.drain(sc)
          (sum, (wall, rec.cpuSeconds, rec.shuffleMb, rec.peakMb - base))
        }.foreach(runs += _)
      }
      log(s"$name runs (wall, cpu, shuffle, peak): ${runs.mkString(" ")}")
      measured = runs.nonEmpty
      val wall = median(runs.map(_._1).toSeq)
      values ++= Seq(
        "wall_s" -> wall,
        "docs_per_s" -> gen.docs / wall,
        "cpu_s" -> median(runs.map(_._2).toSeq),
        // AQE does not always plan identical calls alike (one er_batch plan
        // writes 1.9 MB, another 2.5), so a median follows which plan won;
        // the max over a fixed number of calls does not grow with --seconds
        "shuffle_mb" -> runs.take(MinRuns).map(_._3).maxOption.getOrElse(Double.NaN),
        "peak_storage_mb" -> median(runs.map(_._4).toSeq),
        "pairwise_f1" -> q.pairwiseF1,
        "clone_recall" -> q.cloneRecall,
        "setup_s" -> (sessionS + median(setups.map(_._1)) + warmS))
    } else {
      val untraced = mutable.ArrayBuffer.empty[Double]
      val passes = mutable.ArrayBuffer.empty[Map[String, Double]]
      val spanJson = mutable.ArrayBuffer.empty[String]
      while (more) {
        prepare()
        rec.clearTrace()
        rec.tracing = true
        val t = new Tracer(spark, rec, name, Cores)
        attempt("traced pass") {
          w.stagedTrace(t)
          prepare()
          val before = rec.storedMb
          val sum = t.span("pipeline.run", w.bySite)(Checksum.of(w.call()))
          t.setRows("pipeline.run", sum.rows)
          // a non-blocking unpersist lands a moment after the call returns
          Recorder.drain(sc); Thread.sleep(300); Recorder.drain(sc)
          t.counts("ops.cache.leaked_mb") = rec.storedMb - before
          w.afterTrace(t)
          Recorder.drain(sc)
          (sum, ())
        }.foreach { _ =>
          if (t.mismatches.nonEmpty) { failed += 1; t.mismatches.foreach(log) }
          else {
            passes += t.metrics()
            spanJson ++= t.spansJson()
          }
        }
        rec.tracing = false
        // the untraced baseline of the tracing overhead, as warm as the pass
        prepare()
        attempt("untraced run")(timedCall()).foreach(untraced += _)
      }
      measured = passes.nonEmpty && untraced.nonEmpty
      val keys = passes.flatMap(_.keys).distinct
      values ++= keys.map(k => k -> median(passes.flatMap(_.get(k)).toSeq))
      val untracedWall = median(untraced.toSeq)
      values("trace.overhead_s") = values.getOrElse("pipeline.run.wall_s", Double.NaN) - untracedWall
      w match {
        case b: ErBatch =>
          // the same call on one core, for the pipeline's 1 -> cores efficiency
          spark.stop()
          val one = session(1, ShufflePartitions, work)
          val wall1 = b.wallIn(one)
          one.stop()
          values("pipeline.run.eff_1_to_4") = wall1 / (Cores * untracedWall)
          log(f"$name local[1] wall $wall1%.3f s vs local[$Cores] $untracedWall%.3f s")
        case _ =>
      }
      val traceFile = new java.io.File(traces, s"$name-seed$seed.json")
      traceFile.getParentFile.mkdirs()
      val metricsJson = values.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${Json.str(k)}:${if (v.isNaN) "null" else Json.num(v)}" }
      java.nio.file.Files.write(traceFile.toPath, (
        s"""{"workload":${Json.str(name)},"seed":$seed,"docs":${gen.docs},""" +
          s""""untraced_wall_s":[${untraced.mkString(",")}],""" +
          s""""metrics":{${metricsJson.mkString(",")}},""" +
          s""""spans":[${spanJson.mkString(",\n")}]}""" + "\n").getBytes("UTF-8"))
      log(s"trace written to $traceFile")
    }

    val failedChecks = checks.filterNot(_._2).map(_._1)
    failedChecks.foreach(c => log(s"check failed: $c"))
    val correct = measured && failedChecks.isEmpty && failed == 0
    val declared = bench.get(if (trace) "per_layer" else "end_to_end").elements().asScala.toSeq
    // a traced workload reports 0 for the spans it does not run
    val metrics = if (!measured) Seq.empty else declared.map { m =>
      val n = m.get("name").asText
      val v = values.getOrElse(n,
        if (trace) 0.0 else throw new IllegalStateException(s"metric $n was not measured"))
      s"${Json.str(n)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(m.get("unit").asText)}}"
    }
    log("result")
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${metrics.mkString(",")}}}""")
  }
}
