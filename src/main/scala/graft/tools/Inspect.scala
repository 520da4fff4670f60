package graft.tools

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.ops.Sessions
import graft.pipeline.ErPipeline
import graft.schema.Page

/**
 * One inspector for the engine's queries and its ER job:
 *
 *   Inspect profile <dir> <target> [runs=2] [cores=8]
 *   Inspect explain <dir> <outDir> <targets,csv> [cores=8]
 *   Inspect show    <dir> <target> [cores=8]
 *
 * A target is a [[graft.SparkEntry.queries]] or [[graft.SparkEntry.stress]]
 * name, read from the sf directory `<dir>` under the
 * [[graft.ops.Sessions.bench]] session, or one of the ER targets over the
 * page-parquet corpus at `<dir>` (e.g. one written by `tools/GenCorpus`)
 * under the [[graft.ops.Sessions.scaling]] session with 2×cores shuffle
 * partitions, the partition count ScalingSuite gives a single-size run:
 * `er` is [[ErPipeline.run]]; `er_ckpt` is [[ErPipeline.runCheckpointed]]
 * into a fresh temporary workDir per run (so every run computes every
 * stage; none resumes), removed once the run's output has been used.
 *
 *  - `profile` counts the target `runs` times and reports the
 *    LAST (warm) run: every job with its wall and the driver-side gaps
 *    between jobs (planning, collects, broadcast builds), and every stage
 *    with start/end offsets from the run start, wall, summed task run time,
 *    CPU, GC, tasks, shuffle read/write and the physical operator names
 *    (rdd scopes, which AQE hides from stage call sites), and the classes
 *    Spark's code generator compiled during that run with their compile
 *    time. While the plans' classes fit the codegen cache
 *    ([[graft.ops.Sessions.CodegenCacheMaxEntries]]) a warm run compiles
 *    only what no earlier run planned (a call that picks a new AQE plan
 *    variant); most of a plan's classes recompiled on every warm run show
 *    the working set outgrew the cache.
 *    Every graft session runs with the Spark UI off; this is its
 *    replacement.
 *  - `explain` writes `<outDir>/<target>.txt` per target: the formatted
 *    plan, then the final plan of every query execution that building and
 *    counting the target ran — including eager-checkpoint interiors, which
 *    the formatted plan cannot show (the `plans/rNN/` records).
 *  - `show` prints the first 50 rows and the wall.
 */
object Inspect {

  val ErTarget = "er"
  val ErCkptTarget = "er_ckpt"
  private val ErTargets = Set(ErTarget, ErCkptTarget)

  private def targets: Map[String, (SparkSession, String) => DataFrame] =
    SparkEntry.queries ++ SparkEntry.stress + (ErTarget -> ((s: SparkSession, dir: String) =>
      ErPipeline.run(pages(s, dir))))

  private def pages(s: SparkSession, dir: String) =
    s.read.parquet(dir).as[Page](Encoders.product[Page])

  /** Fails on an unknown target name, listing every valid one. */
  private def requireTarget(name: String): Unit =
    if (name != ErCkptTarget && !targets.contains(name)) throw new IllegalArgumentException(
      s"unknown target '$name'; valid targets: " +
        (targets.keys.toSeq :+ ErCkptTarget).sorted.mkString(", "))

  /** Hands target `name`'s frame over `dir` to `use`. `er_ckpt` runs into a
    * fresh temporary workDir, removed once `use` returns. */
  private def using[T](spark: SparkSession, dir: String, name: String)(use: DataFrame => T): T =
    if (name != ErCkptTarget) use(targets(name)(spark, dir)) else {
      val work = Files.createTempDirectory("graft-inspect")
      try use(ErPipeline.runCheckpointed(spark, pages(spark, dir), work.toString))
      finally {
        val tree = Files.walk(work)
        try tree.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
        finally tree.close()
      }
    }

  /** Epoch-ms times; `endMs` is -1 when no end event arrived. */
  final case class Job(id: Int, startMs: Long, endMs: Long, stages: Int, tasks: Int,
                       site: String)
  final case class Stage(id: Int, startMs: Long, endMs: Long, tasks: Int, runMs: Long,
                         cpuNs: Long, gcMs: Long, shuffleReadBytes: Long,
                         shuffleWriteBytes: Long, ops: String)
  /** `rows`, the jobs, the stages and the codegen counts are the last
    * run's; `startMs` is when it began. `compiles` and `compileMs` count every
    * class this JVM compiled during the run: all of them under a local
    * master, the driver's alone on a cluster. */
  final case class Profile(rows: Long, seconds: Seq[Double], startMs: Long,
                           jobs: Seq[Job], stages: Seq[Stage], compiles: Long,
                           compileMs: Double)

  /** Job property marking the jobs a [[Recorder]] keeps. */
  private val RunKey = "graft.inspect.run"

  /** Records the jobs carrying `RunKey = tag`, and their completed stages. */
  private final class Recorder(tag: String) extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, Job]()
    val stages = new ConcurrentHashMap[Int, Stage]()
    private val stageIds = ConcurrentHashMap.newKeySet[Int]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty(RunKey) == tag)) {
        val site = Option(e.properties.getProperty("callSite.short"))
          .orElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.name))
          .getOrElse("?")
        jobs.put(e.jobId, Job(e.jobId, e.time, -1L, e.stageInfos.size,
          e.stageInfos.map(_.numTasks).sum, site.take(90)))
        e.stageIds.foreach(stageIds.add)
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (stageIds.contains(si.stageId) && m != null) {
        val ops = si.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name)).distinct.mkString(">")
        stages.put(si.stageId, Stage(si.stageId, si.submissionTime.getOrElse(-1L),
          si.completionTime.getOrElse(-1L), si.numTasks, m.executorRunTime,
          m.executorCpuTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, ops.take(200)))
      }
    }
  }

  /** Returns once every listener on the shared bus queue has seen the events
    * posted before the call: a one-task marker job's end event queues behind
    * them. Fails rather than report a partial record. */
  private def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val marker = s"drain-${System.nanoTime()}"
    val done = new CountDownLatch(1)
    val listener = new SparkListener {
      @volatile private var markerJob = -1
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(RunKey) == marker)) markerJob = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob) done.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(RunKey, marker)
      try sc.parallelize(Seq(0), 1).count() finally sc.setLocalProperty(RunKey, null)
      if (!done.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("listener events did not drain within 60 s")
    } finally sc.removeSparkListener(listener)
  }

  def profile(spark: SparkSession, dir: String, name: String, runs: Int): Profile = {
    require(runs >= 1, s"runs must be >= 1 (got $runs)")
    requireTarget(name)
    val sc = spark.sparkContext
    val tag = s"warm-${System.nanoTime()}"
    val rec = new Recorder(tag)
    sc.addSparkListener(rec)
    // classes compiled (CodegenMetrics) and their summed compile time (ns)
    def codegen() = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
    try {
      var rows = 0L
      var startMs = 0L
      var codegen0 = (0L, 0L)
      val seconds = (1 to runs).map { i =>
        if (i == runs) {
          sc.setLocalProperty(RunKey, tag)
          startMs = System.currentTimeMillis()
          codegen0 = codegen()
        }
        val t0 = System.nanoTime()
        try rows = using(spark, dir, name)(_.count())
        finally sc.setLocalProperty(RunKey, null)
        (System.nanoTime() - t0) / 1e9
      }
      val codegen1 = codegen()
      drain(spark)
      Profile(rows, seconds, startMs, rec.jobs.values.asScala.toSeq.sortBy(_.startMs),
        rec.stages.values.asScala.toSeq.sortBy(s => (s.startMs, s.id)),
        codegen1._1 - codegen0._1, (codegen1._2 - codegen0._2) / 1e6)
    } finally sc.removeSparkListener(rec)
  }

  def report(name: String, p: Profile): String = {
    def off(ms: Long) = if (ms < 0) Double.NaN else (ms - p.startMs) / 1e3
    def wall(t0: Long, t1: Long) = if (t0 < 0 || t1 < 0) Double.NaN else (t1 - t0) / 1e3
    val mb = 1024.0 * 1024
    val out = Seq.newBuilder[String]
    out += f"PROFILE $name rows=${p.rows} sec=${p.seconds.map(s => f"$s%.2f").mkString(",")}"
    out += "JOBS of the last run [start-end s from its start]"
    var prevEnd = -1L
    p.jobs.foreach { j =>
      if (prevEnd > 0 && j.startMs - prevEnd > 30)
        out += f"  GAP  ${(j.startMs - prevEnd) / 1e3}%7.2f s  (driver-side)"
      out += f"  JOB ${j.id}%4d [${off(j.startMs)}%6.2f-${off(j.endMs)}%6.2f] " +
        f"${wall(j.startMs, j.endMs)}%6.2f s  stages=${j.stages}%2d tasks=${j.tasks}%5d  ${j.site}"
      prevEnd = math.max(prevEnd, if (j.endMs > 0) j.endMs else j.startMs)
    }
    out += "STAGES of the last run"
    p.stages.foreach { s =>
      out += f"  STAGE ${s.id}%4d [${off(s.startMs)}%6.2f-${off(s.endMs)}%6.2f] " +
        f"wall=${wall(s.startMs, s.endMs)}%6.2f s run=${s.runMs / 1e3}%6.2f s " +
        f"cpu=${s.cpuNs / 1e9}%6.2f s gc=${s.gcMs / 1e3}%5.2f s tasks=${s.tasks}%4d " +
        f"sr=${s.shuffleReadBytes / mb}%7.1fMB sw=${s.shuffleWriteBytes / mb}%7.1fMB  ${s.ops}"
    }
    out += f"TOTAL jobs=${p.jobs.size} stages=${p.stages.size} " +
      f"run=${p.stages.map(_.runMs).sum / 1e3}%.2f s cpu=${p.stages.map(_.cpuNs).sum / 1e9}%.2f s"
    out += f"CODEGEN of the last run: compiled=${p.compiles} classes in ${p.compileMs}%.0f ms"
    out.result().mkString("\n")
  }

  def explain(spark: SparkSession, dir: String, outDir: String, names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      requireTarget(name)
      val finals = new ConcurrentLinkedQueue[String]()
      val listener = new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          finals.add(f"== $funcName (${durationNs / 1e9}%.2f s) ==\n${qe.executedPlan}")
        override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        val plan = using(spark, dir, name) { df =>
          val plan = df.queryExecution.explainString(FormattedMode)
          df.count()
          plan
        }
        drain(spark)
        val path = Paths.get(outDir, s"$name.txt")
        Files.writeString(path, plan +
          "\n== Final plans of the query executions run to build and count it ==\n" +
          finals.asScala.mkString("\n"))
        System.err.println(s"[inspect] wrote $path")
      } finally spark.listenerManager.unregister(listener)
    }
  }

  def show(spark: SparkSession, dir: String, name: String): Unit = {
    requireTarget(name)
    val t0 = System.nanoTime()
    using(spark, dir, name)(_.show(50, truncate = false))
    println(f"[inspect] $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  def main(args: Array[String]): Unit = {
    def int(i: Int, default: Int) = if (args.length > i) args(i).toInt else default
    val (names, cores, mode) = args.toSeq match {
      case Seq("profile", dir, name, _*) => (Seq(name), int(4, 8),
        (s: SparkSession) => println(report(name, profile(s, dir, name, int(3, 2)))))
      case Seq("explain", dir, outDir, csv, _*) =>
        val ns = csv.split(',').map(_.trim).filter(_.nonEmpty).toSeq
        (ns, int(4, 8), (s: SparkSession) => explain(s, dir, outDir, ns))
      case Seq("show", dir, name, _*) =>
        (Seq(name), int(3, 8), (s: SparkSession) => show(s, dir, name))
      case _ =>
        System.err.println("usage: Inspect profile <dir> <target> [runs] [cores]\n" +
          "       Inspect explain <dir> <outDir> <targets,csv> [cores]\n" +
          "       Inspect show <dir> <target> [cores]")
        sys.exit(2)
    }
    names.foreach(requireTarget) // unknown names fail before Spark starts
    val spark = (if (names.exists(ErTargets)) Sessions.scaling(cores, cores * 2, "graft-inspect")
      else Sessions.bench(cores, "graft-inspect")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try mode(spark) finally spark.stop()
  }
}
