package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Pins the production-session survival configs (BASELINE.md rehearsal
  * lessons, and two host and per-call costs): every entry point builds
  * through Sessions.builder, so these six settings reaching every session
  * reduces to this map being right. */
class SessionsSpec extends AnyFunSuite {

  test("survival configs carry the rehearsal + host-I/O lessons") {
    assert(Sessions.survivalConfigs == Map(
      // lesson 5: spillable window buffers from row 512 — the SN lead()
      // window's unspillable 4096-row default drained the task pool at 6M docs
      "spark.sql.windowExec.buffer.in.memory.threshold" -> "512",
      // lesson 1: dead shuffle files are GC-gated; bound them to the live set
      "spark.cleaner.periodicGC.interval" -> "2min",
      // lesson 4: shuffle bytes are the binding resource; zstd halves them
      "spark.io.compression.codec" -> "zstd",
      // CC local finish / ANN top-up collects must not die on the 1g default
      "spark.driver.maxResultSize" -> "4g",
      // round-6 lesson: the bypass shuffle writer's transferTo concat
      // mmaps/unmaps every per-reducer segment — a VM-exit storm on this
      // guest (thread dumps: map stages 13 s task time, 1.7 s CPU)
      "spark.file.transferTo" -> "false",
      // a warm ER call recompiled most of its plan: run + runCheckpointed
      // generate more classes than the default 100-entry codegen cache
      // holds; 2400 is twice the largest working set measured in one JVM
      // (1,192 classes, a graft.Verify sf0.01 pass)
      "spark.sql.codegen.cache.maxEntries" -> "2400"))
  }

  /** A builder's option map. A second SparkContext can't be created in the
    * suite JVM, so sessions are checked at the builder level (reflection on
    * the private options field — stable across Spark 3.x/4.x; if it moves,
    * these tests fail loudly, not silently). */
  private def options(b: org.apache.spark.sql.SparkSession.Builder): Map[String, String] = {
    val f = Iterator.iterate[Class[_]](b.getClass)(_.getSuperclass)
      .takeWhile(_ != null)
      .flatMap(_.getDeclaredFields.find(_.getName == "options"))
      .toSeq.headOption
      .getOrElse(fail("SparkSessionBuilder no longer has an options field"))
    f.setAccessible(true)
    f.get(b).asInstanceOf[scala.collection.mutable.Map[String, String]].toMap
  }

  test("builder applies the survival configs (options visible pre-build)") {
    val opts = options(Sessions.builder(2, "sessions-spec"))
    Sessions.survivalConfigs.foreach { case (k, v) =>
      assert(opts.get(k).contains(v), s"builder lost survival config $k (has: $opts)")
    }
  }

  test("bench recipe equals graft.Bench.session's settings") {
    // graft.Bench.session is the frozen source of these literals: BenchExtra
    // and Inspect must time the bench's job, so a drift fails here
    for (c <- Seq(2, 8, 32)) {
      val mb = 1024L * 1024
      val expected = Map(
        "spark.sql.shuffle.partitions" -> (c * 2).toString,
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> (32 * mb).toString,
        "spark.sql.files.maxPartitionBytes" -> (8 * mb).toString,
        "spark.sql.files.openCostInBytes" -> (512L * 1024).toString,
        "spark.sql.join.preferSortMergeJoin" -> "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (16 * mb).toString,
        "spark.local.dir" -> "/dev/shm/graft-spark")
      assert(Sessions.benchConfigs(c) == expected)
      assert(options(Sessions.bench(c, "b-spec")) ==
        options(Sessions.builder(c, "b-spec")) ++ expected)
    }
  }

  test("scaling recipe equals the ScalingSuite session it replaced") {
    // the settings every recorded north-rule run used (the suite's former
    // GRAFT_BCAST_MB / GRAFT_MAX_PART_MB / GRAFT_ADVISORY_MB defaults)
    for (p <- Seq(16, 64)) {
      val mb = 1024L * 1024
      val expected = Map(
        "spark.sql.shuffle.partitions" -> p.toString,
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> (32 * mb).toString,
        "spark.sql.files.maxPartitionBytes" -> (32 * mb).toString,
        "spark.sql.files.openCostInBytes" -> (512L * 1024).toString,
        "spark.sql.join.preferSortMergeJoin" -> "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (16 * mb).toString,
        "spark.local.dir" -> "/tmp/graft-spark-local")
      assert(Sessions.scalingConfigs(p) == expected)
      assert(options(Sessions.scaling(8, p, "s-spec")) ==
        options(Sessions.builder(8, "s-spec")) ++ expected)
    }
  }

  test("rehearsal recipe equals the sessions the three rehearsal tools built") {
    // DressRehearsal's and IncRehearsal's literals (AssignRehearsal's lacked
    // only the 32 MB split size): data-sized shuffle partitions with a
    // 2-per-core floor, and the caller's local dirs
    val mb = 1024L * 1024
    for ((c, rows, parts) <- Seq((32, 3000000L, 120), (32, 600000L, 64), (4, 3300000L, 132))) {
      val dirs = "/tmp/graft-spark-local,/dev/shm/graft-spark-rehearsal"
      val expected = Map(
        "spark.sql.shuffle.partitions" -> parts.toString,
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> (32 * mb).toString,
        "spark.sql.files.maxPartitionBytes" -> (32 * mb).toString,
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (16 * mb).toString,
        "spark.local.dir" -> dirs)
      assert(Sessions.rehearsalConfigs(c, rows, dirs) == expected)
      assert(options(Sessions.rehearsal(c, rows, dirs, "r-spec")) ==
        options(Sessions.builder(c, "r-spec")) ++ expected)
    }
  }

  test("builder defaults to local[cores] but never overrides a submitted master") {
    def masterOpt(b: org.apache.spark.sql.SparkSession.Builder): Option[String] =
      options(b).get("spark.master")
    val saved = sys.props.remove("spark.master")
    try {
      // plain runMain / tests: no external master -> local[cores] default
      assert(masterOpt(Sessions.builder(2, "m-spec")).contains("local[2]"))
      // spark-submit publishes --master as the spark.master system property;
      // the builder must leave it alone or every cluster submission would
      // silently become a single-JVM local run
      sys.props("spark.master") = "spark://127.0.0.1:7077"
      assert(masterOpt(Sessions.builder(2, "m-spec")).isEmpty)
    } finally {
      sys.props.remove("spark.master")
      saved.foreach(v => sys.props("spark.master") = v)
    }
  }
}
