package graft.tools

import scala.util.control.NonFatal

/**
 * Weather-robust per-query measurement (guide §1: measure first, and on
 * this host measure PAST the Firecracker throttle cycles): times the named
 * SparkEntry queries (or the full headline list) under the EXACT bench
 * session config, in R interleaved rounds, and reports the per-query MIN
 * together with each round's 1-thread ALU canary (same loop as
 * WeatherProbe; clean ≈ 0.75-0.9 s on this guest). The bench of record
 * (graft.Bench) is frozen single-pass per the measurement contract — this
 * tool exists so optimization deltas are not adjudicated on one sample of
 * a host whose effective CPU swings 2.5-4x on ~10-minute cycles
 * (BASELINE.md).
 *
 * Usage: BenchExtra <sfDir> [rounds] [cores] [names,csv|all]
 * Output: one MIN line per query + a final JSON-ish summary line.
 *
 * A query that throws is never timed again: it is reported on stderr,
 * left out of the MIN lines and `total_min`, listed under `"failed"` in
 * the summary, and makes the tool exit non-zero.
 */
object BenchExtra {
  private def canarySec(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 400000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 0) System.err.println("")
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val rounds = if (args.length > 1) args(1).toInt else 3
    val cores = if (args.length > 2) args(2).toInt else 32
    val headline = Seq(
      "q1_agg", "q3_top_orders", "j3_broadcast_dim", "t1_topk_per_group",
      "w3_sorted_neighborhood", "j8_pair_score", "ngram_jaccard",
      "text_quality", "text_langid", "token_counts", "f6_dedup_exact",
      "ann_topk", "embedding_cosine_pairs", "cc_components",
      "dedup_minhash", "dedup_simhash", "embedding_neardup", "ann_lsh_topk",
      "events_hourly", "stream_windowed", "er_pipeline", "er_clone_pairs",
      "a1_triplet_merge", "rel_per_relation", "p2_sentence_split",
      "dedup_minhash_full", "dedup_simhash_full")
    val names =
      if (args.length > 3 && args(3) != "all") args(3).split(',').map(_.trim).toSeq
      else headline

    val spark = graft.ops.Sessions.bench(cores, "graft-bench-extra").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val targets = graft.SparkEntry.queries ++ graft.SparkEntry.stress

    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    /** Runs query `n` to completion; false (and `n` marked failed) if it threw. */
    def completes(n: String): Boolean =
      try { targets(n)(spark, sfDir).count(); true }
      catch {
        case NonFatal(e) =>
          failed += n
          System.err.println(s"[bench-extra] FAILED $n: $e")
          false
      }

    // warm-up pass (JIT + codegen), untimed
    names.foreach(completes)

    val samples = scala.collection.mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
    val canaries = scala.collection.mutable.ArrayBuffer.empty[Double]
    (1 to rounds).foreach { r =>
      val c = canarySec()
      canaries += c
      names.filterNot(failed).foreach { n =>
        val t0 = System.nanoTime()
        if (completes(n)) {
          val sec = (System.nanoTime() - t0) / 1e9
          samples(n) = sec :: samples(n)
          System.err.println(f"[bench-extra] round=$r canary=$c%.2f $n $sec%.3f")
        }
      }
    }
    val mins = names.filterNot(failed).map(n => n -> samples(n).min)
    mins.foreach { case (n, m) => println(f"MIN $n $m%.3f") }
    val total = mins.map(_._2).sum
    val qjson = mins.map { case (n, m) => f""""$n":$m%.3f""" }.mkString("{", ",", "}")
    val fjson = failed.map(n => "\"" + n + "\"").mkString("[", ",", "]")
    val cjson = canaries.map(c => f"$c%.2f").mkString("[", ",", "]")
    println(f"""{"metric":"total_min","value":$total%.3f,"unit":"sec","queries":$qjson,"failed":$fjson,"canaries":$cjson,"rounds":$rounds,"sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
