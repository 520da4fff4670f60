package graft.block

import graft.SparkSpec
import graft.ingest.CorpusGen
import org.apache.spark.sql.functions._

/**
 * Skew fixtures (FIXTURES.md §6): hot blocking keys must not produce O(n²)
 * pairs — the sorted-neighborhood / purge path bounds every block's output.
 */
class SkewSpec extends SparkSpec {

  test("hot key produces O(n·w) pairs, not O(n²)") {
    import spark.implicits._
    // one pathological block: 500 members under a single key + some normal blocks
    val hot = (0 until 500).map(i => (77L, f"h$i%04d", f"mention $i%04d"))
    val normal = (0 until 60).map(i => ((i % 20).toLong + 1000L, f"n$i%04d", s"m $i"))
    val blocks = (hot ++ normal).toDF("key", "url", "mention")
    val cfg = Blocking.Config(maxBlock = 64, snWindow = 8, purgeLimit = 100000)
    val pairs = Blocking.candidatePairs(blocks, cfg)
    val n = pairs.count()
    // hot block: ≤ 500*8 SN pairs; naive would be 124750
    assert(n < 500L * 8 + 200, s"pair explosion: $n")
    assert(n > 400, s"hot block must still produce neighbor pairs: $n")
  }

  test("oversized blocks are purged entirely") {
    import spark.implicits._
    val giant = (0 until 300).map(i => (1L, f"g$i%04d", s"m"))
    val blocks = giant.toDF("key", "url", "mention")
    val cfg = Blocking.Config(maxBlock = 16, purgeLimit = 100, snWindow = 4)
    assert(Blocking.candidatePairs(blocks, cfg).count() == 0)
  }

  test("delta pairs: untouched blocks skipped, hot blocks bounded at O(fresh·w)") {
    import spark.implicits._
    // hot block (500 members, 10 fresh) + an untouched hot block + an
    // untouched small block + a small block with one fresh member
    val hotTouched = (0 until 500).map(i => (77L, f"h$i%04d", f"mention $i%04d", i % 50 == 0))
    val hotCold = (0 until 500).map(i => (88L, f"c$i%04d", f"mention $i%04d", false))
    val smallCold = (0 until 10).map(i => (5L, f"s$i%02d", s"m $i", false))
    val smallTouched = (0 until 10).map(i => (6L, f"t$i%02d", s"m $i", i == 3))
    val blocks = (hotTouched ++ hotCold ++ smallCold ++ smallTouched)
      .toDF("key", "url", "mention", "fresh")
    val cfg = Blocking.Config(maxBlock = 64, snWindow = 8, purgeLimit = 100000)
    val pairs = Blocking.deltaCandidatePairs(blocks, cfg).cache()
    // every pair touches a fresh url
    val freshUrls = blocks.filter(col("fresh")).select(col("url")).as[String].collect().toSet
    val untouched = pairs.filter(
      !col("url_a").isin(freshUrls.toSeq: _*) && !col("url_b").isin(freshUrls.toSeq: _*)).count()
    assert(untouched == 0L, s"$untouched pairs touch no fresh doc")
    // no pair from the cold blocks at all
    assert(pairs.filter(col("url_a").startsWith("c") || col("url_a").startsWith("s")).count() == 0)
    // hot block: ≤ fresh × 2w pairs; the old cross-join shape was fresh × 499
    val hotPairs = pairs.filter(col("url_a").startsWith("h")).count()
    assert(hotPairs <= 10L * 16 && hotPairs >= 10L * 8,
      s"hot delta pairs out of the ±w envelope: $hotPairs")
    // small touched block: exactly fresh × (n-1) = 9 full pairs survive
    assert(pairs.filter(col("url_a").startsWith("t")).count() == 9L)
    pairs.unpersist()
  }

  test("delta pairs ≡ offline pairs ∩ touching (hot-block property)") {
    import spark.implicits._
    // one hot block: the delta pair set must equal candidatePairs' SN pair
    // set restricted to pairs with ≥1 fresh side — both directions (a fresh
    // doc sees neighbors BEHIND it via lag, which lead-only emission from
    // fresh rows would miss)
    val rows = (0 until 300).map(i => (9L, f"u$i%04d", f"m $i%04d", i % 23 == 0))
    val blocks = rows.toDF("key", "url", "mention", "fresh")
    val cfg = Blocking.Config(maxBlock = 32, snWindow = 5, purgeLimit = 100000)
    val offline = Blocking.candidatePairs(blocks.drop("fresh"), cfg)
    val fresh = rows.filter(_._4).map(_._2).toSet
    val want = offline.as[(String, String)].collect().toSet
      .filter(p => fresh(p._1) || fresh(p._2))
    val got = Blocking.deltaCandidatePairs(blocks, cfg)
      .as[(String, String)].collect().toSet
    assert(got == want,
      s"delta≠offline∩touching: only-delta=${(got -- want).take(5)}, missing=${(want -- got).take(5)}")
  }

  test("zipf domain skew: lineage skew factor stays bounded after hash partitioning") {
    import spark.implicits._
    val pages = CorpusGen.pages(spark, 2000L, seed = 42L, partitions = 8).cache()
    // head domain holds a large share of rows (the skew fixture is real)
    val byDomain = pages.toDF()
      .groupBy(regexp_extract(col("url"), "https://([^/]+)/", 1).as("domain")).count()
    val top = byDomain.orderBy(col("count").desc).first().getLong(1)
    assert(top > 2000L / 101 * 5, s"zipf head domain should dominate: $top")

    // but candidate pairs, hash-partitioned, stay balanced across partitions
    val cfg = Blocking.Config()
    val pairs = Blocking.candidatePairs(
      Blocking.blockKeys(Blocking.features(pages, cfg), cfg), cfg)
      .repartition(8, col("url_a"))
    // rows per partition of the repartitioned frame
    val parts = pairs.select(spark_partition_id().as("pid")).groupBy("pid").count()
      .collect().map(_.getLong(1)).toSeq
    val rows = parts.sum.toDouble
    val skew = parts.max * parts.length / rows
    assert(skew < 1.5, s"pair partitions skew factor $skew")
    pages.unpersist()
  }
}
