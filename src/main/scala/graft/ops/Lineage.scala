package graft.ops

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/**
 * Per-stage / per-partition lineage counters (SURVEY.md §2.5 A5; north rule
 * "per-partition lineage and counters written alongside snapshot
 * checkpoints"). The reference logs skip/discard counters ad hoc
 * (`/root/reference/relik/reader/data/relik_reader_data.py:815-841`); here
 * they are first-class: a `(partition, rows)` list — for a checkpointed
 * stage, one entry per written part file, counted from its parquet footer
 * by [[Checkpoints.stage]], so no pass over the data — dumped as JSON next
 * to the stage manifest with its total and skew factor.
 */
object Lineage {

  def writeCounters(dir: String, stage: String, parts: Seq[(Int, Long)],
                    extra: Map[String, Long] = Map.empty): Unit = {
    val partsJson = parts.map { case (p, c) => s"""{"partition":$p,"rows":$c}""" }
      .mkString("[", ",", "]")
    val extraJson = extra.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    val rows = parts.map(_._2).sum
    val skew = if (parts.nonEmpty && rows > 0)
      parts.map(_._2).max.toDouble * parts.length / rows else 0.0
    val json =
      s"""{"stage":"$stage","rows":$rows,"n_partitions":${parts.length},""" +
        f""""skew_factor":$skew%.3f,"partitions":$partsJson${if (extraJson.nonEmpty) "," + extraJson else ""}}"""
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, "counters.json"), json.getBytes(StandardCharsets.UTF_8))
  }
}
