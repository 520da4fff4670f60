package graft.tools

import graft.{SparkEntry, SparkSpec}

class InspectSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("profile counts the resolved target and records the warm run's jobs and stages") {
    for ((name, runs, direct) <- Seq(
        ("q1_agg", 2, SparkEntry.queries("q1_agg")),
        ("dedup_simhash_full", 1, SparkEntry.stress("dedup_simhash_full")))) {
      val p = Inspect.profile(spark, dir, name, runs)
      assert(p.rows == direct(spark, dir).count(), name)
      assert(p.seconds.size == runs)
      assert(p.jobs.nonEmpty && p.stages.nonEmpty, s"$name recorded nothing: $p")
      assert(p.jobs.forall(_.startMs >= p.startMs), s"$name kept an earlier run's job")
      assert(p.jobs.forall(_.endMs >= 0), s"$name missed a job end")
      val report = Inspect.report(name, p)
      assert(report.contains("  JOB ") && report.contains("  STAGE "))
      assert(p.compiles >= 0 && p.compileMs >= 0 && (p.compiles > 0 || p.compileMs == 0),
        s"$name codegen deltas: ${p.compiles} classes, ${p.compileMs} ms")
      assert(report.contains(s"CODEGEN of the last run: compiled=${p.compiles} classes"))
    }
  }

  test("er_ckpt profiles a fresh checkpointed run per run and removes its workDirs") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft-inspect-corpus")
    val corpus = root.resolve("pages").toString
    graft.ingest.CorpusGen.pages(spark, 300L, seed = 3L).write.parquet(corpus)
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def workDirs = Files.list(tmp).toArray.map(_.toString)
      .filter(_.contains("graft-inspect")).filterNot(_.contains("corpus")).toSet
    val before = workDirs
    try {
      val p = Inspect.profile(spark, corpus, Inspect.ErCkptTarget, 2)
      assert(p.rows == 300L, "one (url, cluster_id) row per page")
      // the warm run computed (wrote) every stage: it did not resume the first
      val writes = p.jobs.count(_.site.contains("Checkpoints.scala"))
      assert(writes >= 5, s"expected the five stage writes in the warm run: ${p.jobs}")
      assert(workDirs == before, s"workDirs left behind: ${workDirs -- before}")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("an unknown target fails listing the valid names") {
    val e = intercept[IllegalArgumentException](Inspect.profile(spark, dir, "q0_nope", 1))
    Seq("q0_nope", "q1_agg", "dedup_simhash_full", "dedup_minhash_full", Inspect.ErTarget,
        Inspect.ErCkptTarget)
      .foreach(n => assert(e.getMessage.contains(n), e.getMessage))
  }
}
