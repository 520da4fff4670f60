package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CheckpointSpec extends SparkSpec {

  test("stage computes once, then resumes from manifest") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    var computed = 0
    def build() = { computed += 1; Seq((1, "a"), (2, "b")).toDF("id", "v") }

    val first = Checkpoints.stage(spark, s"$dir/s1", "s1", "fp1")(build())
    assert(first.count() == 2 && computed == 1)
    val second = Checkpoints.stage(spark, s"$dir/s1", "s1", "fp1")(build())
    assert(second.count() == 2 && computed == 1, "must not recompute on same fingerprint")

    // changed config fingerprint -> recompute
    val third = Checkpoints.stage(spark, s"$dir/s1", "s1", "fp2")(build())
    assert(third.count() == 2 && computed == 2, "must recompute on new fingerprint")
  }

  test("partial write without manifest is not observed as committed") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt2").toString
    // simulate a crashed stage: data written, no manifest
    Seq((1, "stale")).toDF("id", "v").write.parquet(s"$dir/s/data")
    assert(Checkpoints.readManifest(s"$dir/s").isEmpty)
    val out = Checkpoints.stage(spark, s"$dir/s", "s", "fp") {
      Seq((1, "fresh"), (2, "fresh")).toDF("id", "v")
    }
    assert(out.count() == 2)
    assert(out.filter(col("v") === "stale").count() == 0)
  }

  test("lineage counters JSON written with partition histogram") {
    // the stage's own write feeds the counters: one entry per part file
    val dir = java.nio.file.Files.createTempDirectory("graft-lin").toString
    def counters(d: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(d, "counters.json")))
    Checkpoints.stage(spark, s"$dir/s", "test", "fp") {
      spark.range(0, 1000, 1, 4).toDF("id")
    }
    val json = counters(s"$dir/s")
    assert(json.contains("\"rows\":1000"))
    assert(json.contains("\"n_partitions\":4"))
    assert(json.contains("\"skew_factor\""))
    Lineage.writeCounters(s"$dir/x", "test", Seq(0 -> 250L, 1 -> 750L), Map("purged_blocks" -> 3L))
    assert(counters(s"$dir/x").contains("\"purged_blocks\":3"))
  }

  test("manifest fingerprint matches exactly, whatever it contains") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-fp").toString
    var computed = 0
    def build() = { computed += 1; Seq((1, "a")).toDF("id", "v") }
    val fp = "a\"b\\c"
    Checkpoints.stage(spark, s"$dir/s", "s", fp)(build())
    Checkpoints.stage(spark, s"$dir/s", "s", fp)(build())
    assert(computed == 1, "a fingerprint with a quote and a backslash must resume")
    assert(Checkpoints.readManifest(s"$dir/s").map(_.fingerprint).contains(fp))
    Checkpoints.stage(spark, s"$dir/s", "s", "a")(build())
    assert(computed == 2, "a prefix of the stored fingerprint must not resume")
    Checkpoints.stage(spark, s"$dir/s", "t", "a")(build())
    assert(computed == 3, "another stage's manifest must not resume")
  }

  test("resume reads the stage back under the schema its write committed") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-schema").toString
    def build() = Seq((1L, "a", Seq(1.5), Map("k" -> 2)))
      .toDF("id", "v", "xs", "m")
      .select(col("id"), col("v"), col("xs"), col("m"),
        struct(col("id").as("h1"), lit(7L).as("h2")).as("nid"))
    val first = Checkpoints.stage(spark, s"$dir/s", "s", "fp")(build())
    val resumed = Checkpoints.stage(spark, s"$dir/s", "s", "fp")(fail("must resume"))
    val inferred = spark.read.parquet(s"$dir/s/data").schema
    assert(first.schema == inferred && resumed.schema == inferred)
    assert(Checkpoints.readManifest(s"$dir/s").map(_.rows).contains(1L))
    assert(resumed.collect().toSeq == first.collect().toSeq)
  }
}
