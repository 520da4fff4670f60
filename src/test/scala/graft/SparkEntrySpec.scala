package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

class SparkEntrySpec extends SparkSpec {

  test("pathBytes sums a directory-layout parquet's part files") {
    // File.length of the directory is its inode size (~4 KB), which made
    // tSpread treat every Spark-written corpus as small
    val dir = Files.createTempDirectory("graft-pathbytes").resolve("docs.parquet")
    spark.range(0, 20000).selectExpr("id", "repeat(cast(id as string), 8) as text")
      .repartition(3).write.parquet(dir.toString)
    val parts = Files.list(dir).iterator.asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    assert(parts.size == 3)
    assert(SparkEntry.pathBytes(spark, dir.toString) == parts.map(Files.size).sum)
    assert(SparkEntry.pathBytes(spark, parts.head.toString) == Files.size(parts.head))
  }
}
