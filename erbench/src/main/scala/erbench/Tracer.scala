package erbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.CacheScope

/** One span: a layer call the benchmark wrapped (`start`/`end` set), or a
  * call-site child of such a span (no window of its own; its wall time is
  * the union of its stages' run intervals). */
final case class Span(name: String, parent: String, workload: String,
                      start: Long, var end: Long, bySite: Map[String, String],
                      var rowsOut: Long = -1L)

/**
 * Spans and counts of one traced pass. A span is opened around a call into
 * a layer by setting the `erbench.span` local property, so every job the
 * call submits — from any thread — carries the span's name. For calls that
 * cannot be split from outside (`runCheckpointed`, `incremental`, the dedup
 * operators) `bySite` maps the source file in a job's `callSite.short` to a
 * child span, e.g. `Checkpoints.scala` → `ops.checkpoint`.
 *
 * Span metrics are inclusive of child spans. `rows_out` is the row count of
 * the materialized output for a wrapped call, and the records its stages
 * wrote (shuffle + files) for a call-site child.
 */
final class Tracer(spark: SparkSession, rec: Recorder, workload: String, cores: Int) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val counts = mutable.LinkedHashMap.empty[String, Double]
  /** Outputs of this pass that disagreed with the timed call's output. */
  val mismatches = mutable.ArrayBuffer.empty[String]
  private val sc = spark.sparkContext

  def span[T](name: String, bySite: Map[String, String] = Map.empty)(body: => T): T = {
    val parent = Option(sc.getLocalProperty(Tracer.SpanKey)).getOrElse("")
    val s = Span(name, parent, workload, System.currentTimeMillis(), -1L, bySite)
    spans += s
    sc.setLocalProperty(Tracer.SpanKey, name)
    try body
    finally {
      s.end = System.currentTimeMillis()
      sc.setLocalProperty(Tracer.SpanKey, if (parent.isEmpty) null else parent)
    }
  }

  /** Wrap a call whose output is materialized (persisted + counted) inside
    * the span; the cached frame is registered with `scope`. */
  def layer(name: String, scope: CacheScope, bySite: Map[String, String] = Map.empty)
           (df: => DataFrame): DataFrame = {
    var rows = 0L
    val out = span(name, bySite) {
      val p = scope.cacheLazy(df)
      rows = p.count()
      p
    }
    setRows(name, rows)
    out
  }

  def setRows(name: String, rows: Long): Unit =
    spans.find(_.name == name).foreach(_.rowsOut = rows)

  /** A count measured outside any timed span (its jobs are traced under
    * `erbench.counts`, which no metric includes). */
  def count(metric: String)(v: => Double): Unit = counts(metric) = span("erbench.counts")(v)

  /** Every span's metrics plus the recorded counts, keyed
    * `<span>.<metric>`. Call after the pass, once the listener is drained. */
  def metrics(): Map[String, Double] = {
    val byName = spans.map(s => s.name -> s).toMap
    val stages = rec.stageList
    val jobs = rec.jobList
    // resolve call-site children: (span, site) -> effective span name
    def effective(span: String, site: String): String =
      byName.get(span).flatMap(s => s.bySite.get(Tracer.siteFile(site))).getOrElse(span)
    val children = mutable.LinkedHashMap.empty[String, Span]
    for (s <- spans.toList; (_, child) <- s.bySite if !byName.contains(child))
      children.getOrElseUpdate(child, Span(child, s.name, workload, -1L, -1L, Map.empty))
    val all = byName ++ children
    def within(eff: String, target: String): Boolean =
      eff == target || all.get(eff).exists(s => s.parent.nonEmpty && within(s.parent, target))

    val out = mutable.LinkedHashMap.empty[String, Double]
    for ((name, s) <- all if name != "erbench.counts") {
      val st = stages.filter(x => within(effective(x.span, x.site), name))
      val nJobs = jobs.count(j => within(effective(j.span, j.site), name))
      val nTasks = st.map(_.taskMs.size).sum
      val wall =
        if (s.start >= 0) (s.end - s.start) / 1000.0
        else Tracer.unionSeconds(st.map(x => (x.submitted, x.completed)))
      val cpu = st.map(_.cpuNs).sum / 1e9
      val widest = st.filter(_.taskMs.nonEmpty).sortBy(x => (-x.taskMs.size, -x.taskMs.sum))
        .headOption
      val skew = widest.map { x =>
        val t = x.taskMs.sorted
        val med = t(t.size / 2)
        if (med > 0) t.last.toDouble / med else 1.0
      }.getOrElse(0.0)
      out(s"$name.wall_s") = wall
      out(s"$name.cpu_s") = cpu
      out(s"$name.shuffle_write_mb") = st.map(_.shuffleWriteBytes).sum / 1e6
      out(s"$name.spill_mb") = st.map(_.spillBytes).sum / 1e6
      out(s"$name.rows_out") =
        (if (s.rowsOut >= 0) s.rowsOut else st.map(_.recordsWritten).sum).toDouble
      out(s"$name.jobs") = nJobs.toDouble
      out(s"$name.tasks") = nTasks.toDouble
      out(s"$name.task_skew") = skew
      if (name == "pipeline.run") {
        out("pipeline.run.stages") = st.count(_.taskMs.nonEmpty).toDouble
        out("pipeline.run.idle_core_s") = wall * cores - cpu
      }
    }
    out ++= counts
    out.toMap
  }

  /** Spans of this pass as JSON objects (name, start, end, parent, workload). */
  def spansJson(): Seq[String] = spans.filter(_.name != "erbench.counts").map { s =>
    s"""{"name":${Json.str(s.name)},"start_ms":${s.start},"end_ms":${s.end},""" +
      s""""parent":${Json.str(s.parent)},"workload":${Json.str(s.workload)}}"""
  }.toSeq
}

object Tracer {
  val SpanKey = "erbench.span"

  private val SiteFile = """ at ([^:\s]+):\d+""".r.unanchored

  /** `count at Checkpoints.scala:72` → `Checkpoints.scala`. */
  def siteFile(site: String): String = site match {
    case SiteFile(f) => f
    case _ => ""
  }

  def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    val sorted = iv.filter { case (a, b) => a >= 0 && b >= a }.sortBy(_._1)
    var total = 0L
    var (cs, ce) = (-1L, -1L)
    for ((a, b) <- sorted) {
      if (a > ce) { if (ce > cs) total += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) total += ce - cs
    total / 1000.0
  }
}
