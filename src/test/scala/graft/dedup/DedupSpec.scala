package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  private lazy val docs = {
    import spark.implicits._
    val base = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again today"),
      (1L, "the quick brown fox jumps over the lazy dog again and again today"), // exact dup of 0
      (2L, "the quick brown fox jumps over the lazy cat again and again today"), // near dup of 0
      (3L, "completely different content about spark catalyst optimizer rules"),
      (4L, "completely different content about spark catalyst optimizer rules"), // exact dup of 3
      (5L, "unrelated text mentioning gardens rivers mountains and deserts"))
    base.toDF("doc_id", "text")
  }

  test("incrementalExact: batch minus frozen corpus, exact under any bloom fpp") {
    import spark.implicits._
    val corpus = (0L until 200L).map(i => (i, s"corpus document number $i body")).toDF("doc_id", "text")
    val batch = (
      (0L until 50L).map(i => (1000L + i, s"corpus document number ${i * 3} body")) ++ // re-crawls
      (0L until 30L).map(i => (2000L + i, s"brand new page $i content"))               // genuinely new
    ).toDF("doc_id", "text")
    val expected = (2000L until 2030L).toSet

    val out = Dedup.incrementalExact(batch, corpus, "doc_id", "text",
      expectedBatchRows = 100L, fpp = 1e-3)
    assert(out.columns.toSeq == Seq("doc_id", "text"))
    assert(out.select("doc_id").as[Long].collect().toSet == expected)
    // the bloom probe must actually be in the plan (pre-filter, not decoration)
    assert(out.queryExecution.executedPlan.toString.contains("might_contain"))

    // a deliberately undersized bloom (high fpp -> many false candidates)
    // changes pruning only — the exact anti-join keeps the output identical
    val sloppy = Dedup.incrementalExact(batch, corpus, "doc_id", "text",
      expectedBatchRows = 1L, fpp = 0.9)
    assert(sloppy.select("doc_id").as[Long].collect().toSet == expected)

    // equivalence with the plain (corpus-shuffling) anti-join it replaces
    val plain = batch.join(corpus.select($"text"), Seq("text"), "left_anti")
      .select($"doc_id").as[Long].collect().toSet
    assert(plain == expected)
  }

  test("repeatedSpans: cross-doc windows merge to maximal spans; self-repeats don't count") {
    import spark.implicits._
    val d = Seq(
      (1L, "aa bb s1 s2 s3 s4 s5 cc"),   // shared s-run at tokens 2..6
      (2L, "zz s1 s2 s3 s4 s5"),         // shared s-run at tokens 1..5
      (3L, "qq rr tt uu vv ww qq rr tt uu vv ww"), // repeats only WITHIN itself
      (4L, "s1 s2"),                     // shorter than k: no windows at all
      (5L, "m1 m2 m3 m4 m5 m6"),         // marked windows at 0 and 3: ADJACENT
      (6L, "m1 m2 m3 xx yy m4 m5 m6")    // same grams split by a gap
    ).toDF("doc_id", "text")
    def spans(df: org.apache.spark.sql.DataFrame) =
      Dedup.repeatedSpans(df, "doc_id", "text", k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = spans(d)
    assert(got == Set(
      (1L, 2L, 7L), (2L, 1L, 6L),        // overlapping windows merged
      (5L, 0L, 6L),                      // adjacent windows (pos 0 and 3) merged
      (6L, 0L, 3L), (6L, 5L, 8L)),       // gap keeps two maximal spans
      s"got $got")
    // minDocs means DISTINCT docs: doc 3's internal repetition marks nothing
    assert(!got.exists(_._1 == 3L) && !got.exists(_._1 == 4L))
    // deterministic under partitioning
    assert(spans(d.repartition(7)) == got)
  }

  test("exact dedup keeps one representative per content group") {
    val kept = Dedup.exactDedup(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(0L, 2L, 3L, 5L))
    val groups = Dedup.exactGroups(docs, "doc_id", "text").collect()
    assert(groups.map(_.getAs[Long]("n_dups")).sum == 6)
  }

  test("minhash near-dup groups exact and near duplicates") {
    val groups = minhashGroups()
    assert(groups(0L) == groups(1L), "exact dups grouped")
    assert(groups(0L) == groups(2L), "near dups grouped")
    assert(groups(3L) == groups(4L))
    assert(groups(0L) != groups(3L))
    assert(groups(5L) != groups(0L) && groups(5L) != groups(3L))
  }

  private def minhashGroups(): Map[Long, String] =
    Dedup.minhashNearDupGroups(docs, "doc_id", "text",
        Dedup.MinHashConfig(verifyJaccard = 0.5))
      .collect().map(r => r.getAs[String]("doc_id").toLong -> r.getAs[String]("group_id")).toMap

  test("output is invariant under input partitioning and row order (first/min contracts)") {
    // the two documented determinism contracts: `first(hashes)` over a
    // setkey group (every row carries the identical array) and the star
    // center `min(struct)` — perturb physical layout and row order, assert
    // byte-identical logical output
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val fam = (0 until 40).map(i => (i.toLong, "alpha beta gamma delta epsilon zeta eta theta common text"))
    val near = (40 until 60).map(i => (i.toLong, s"alpha beta gamma delta epsilon zeta eta theta common word$i"))
    val rows = rnd.shuffle(fam ++ near)
    val layouts = Seq(
      rows.toDF("doc_id", "text").repartition(1),
      rows.toDF("doc_id", "text").repartition(13, col("doc_id")),
      rows.reverse.toDF("doc_id", "text").repartition(7, col("text")),
      rnd.shuffle(rows).toDF("doc_id", "text").orderBy(desc("doc_id")))
    val outs = layouts.map { df =>
      Dedup.minhashNearDupGroups(df, "doc_id", "text",
          Dedup.MinHashConfig(verifyJaccard = 0.5, maxBlock = 8))
        .collect().map(r => (r.getAs[String]("doc_id"), r.getAs[String]("group_id")))
        .sortBy(identity).toSeq
    }
    outs.tail.foreach(o => assert(o == outs.head, "partitioning changed near-dup output"))
  }

  test("verifyJaccard=1.0 prunes tier 2 without changing the pair set") {
    // the threshold-aware prune's claim: at verifyJaccard ≥ 1.0 the LSH
    // tier can emit nothing (distinct setkeys ⇔ distinct token sets ⇒
    // jaccard < 1), so the pruned plan must equal the unpruned plan's
    // output filtered to jaccard ≥ 1.0 — verified against a threshold
    // just below 1.0, which DOES run banding/pair-gen/verify
    def pairs(thr: Double) =
      Dedup.minhashNearDupPairs(docs, "doc_id", "text",
          Dedup.MinHashConfig(verifyJaccard = thr))
        .collect().map(r => (r.getAs[String]("id_a"), r.getAs[String]("id_b"),
          r.getAs[Double]("jaccard"))).sortBy(p => (p._1, p._2)).toSeq
    val pruned = pairs(1.0)
    val full = pairs(0.999999).filter(_._3 >= 1.0)
    assert(pruned == full, "pruned path diverged from tier-2 replay")
    assert(pruned.map(p => (p._1, p._2)) == Seq(("0", "1"), ("3", "4")),
      "exact-dup pairs expected")
    // and the near pair (0,2) IS reachable when the threshold admits it
    assert(pairs(0.5).map(p => (p._1, p._2)).contains(("0", "2")))
  }

  test("star-center pairs are invariant under partitioning (min(struct) contract)") {
    import spark.implicits._
    val members = (0 until 30).map(i => ("hot", f"m$i%03d"))
    val layouts = Seq(
      members.toDF("key", "id").repartition(1),
      members.reverse.toDF("key", "id").repartition(11, col("id")),
      new scala.util.Random(5).shuffle(members).toDF("key", "id").repartition(3))
    val outs = layouts.map { df =>
      Dedup.blockPairs(df.select(col("key"), col("id")), struct(col("id")),
          cap = 8, oversizedStar = true)
        .select(col("a.id"), col("b.id")).collect()
        .map(r => (r.getString(0), r.getString(1))).sortBy(identity).toSeq
    }
    // center must be the min id, paired with every other member exactly once
    assert(outs.head == (1 until 30).map(i => ("m000", f"m$i%03d")).sortBy(identity))
    outs.tail.foreach(o => assert(o == outs.head, "partitioning changed star pairs"))
  }

  test("blockPairs emits no self-pair when a (key, id) row occurs twice") {
    import spark.implicits._
    // "s": a small block (n = 3 ≤ cap) holding id a twice; "h": a hot block
    // (n = 9 > cap) holding m4 twice, adjacent in block order
    val rows = Seq(("s", "a"), ("s", "a"), ("s", "b")) ++
      ((0 until 8).map(i => ("h", s"m$i")) :+ (("h", "m4")))
    val df = rows.toDF("key", "id")
    for (star <- Seq(false, true); touch <- Seq(false, true)) {
      val payload = if (touch) struct(col("id"), lit(true).as("fresh")) else struct(col("id"))
      val pairs = Dedup.blockPairs(df.withColumn("fresh", lit(true)), payload,
          cap = 4, snWindow = 2, oversizedStar = star,
          touching = if (touch) Some(p => p("fresh")) else None)
        .select(col("a.id"), col("b.id")).collect().map(r => (r.getString(0), r.getString(1)))
      val mode = s"star=$star touching=$touch"
      assert(pairs.exists(_ == (("a", "b"))) && pairs.exists(_._1.startsWith("m")), mode)
      assert(pairs.forall { case (a, b) => a < b }, s"$mode: self or non-canonical pair in ${pairs.toSeq}")
    }
  }

  test("blockPairs equals a driver-side reference over every block-size branch") {
    import spark.implicits._
    val (cap, purge, w) = (4, 7, 2)
    val rnd = new scala.util.Random(23)
    val pool = (0 until 40).map(i => f"d$i%02d")
    def fresh(id: String): Boolean = id.last.asDigit % 3 == 0
    // two blocks of each size around both thresholds, members drawn without
    // replacement from a shared pool (a doc sits in several blocks), sort
    // values with ties (broken by id); plus a null-key "block" of 3
    val sizes = Seq(1, 2, cap, cap + 1, purge, purge + 1)
    val blocks: Seq[(Option[Long], Seq[(String, Int)])] =
      sizes.flatMap(n => Seq.fill(2)(n)).zipWithIndex.map { case (n, k) =>
        (Some(k.toLong), rnd.shuffle(pool).take(n).map(id => (id, rnd.nextInt(3))))
      } :+ ((None, pool.take(3).map(id => (id, 0))))
    val rows = blocks.flatMap { case (k, ms) => ms.map { case (id, s) => (k, id, s, fresh(id)) } }
      .toDF("key", "id", "s", "fresh")

    def reference(star: Boolean, touch: Boolean): Seq[(String, String)] =
      blocks.collect { case (Some(_), ms) => ms }.flatMap { ms =>
        val n = ms.size
        val order = ms.sortBy { case (id, s) => (s, id) }.map(_._1)
        val raw: Seq[(String, String)] =
          if (n < 2 || n > purge) Nil
          else if (n <= cap) order.combinations(2).map(c => (c(0), c(1))).toSeq
          else if (star) order.filter(_ != order.min).map(m => (order.min, m))
          else for (i <- order.indices; d <- 1 to w if i + d < n) yield (order(i), order(i + d))
        raw.map { case (a, b) => if (a < b) (a, b) else (b, a) }
          .filter { case (a, b) => !touch || fresh(a) || fresh(b) }
      }.sorted

    val layouts = Seq(rows.repartition(1), rows.repartition(5, col("id")))
    for (star <- Seq(false, true); touch <- Seq(false, true); (df, li) <- layouts.zipWithIndex) {
      val payload = if (touch) struct(col("id"), col("fresh")) else struct(col("id"))
      val got = Dedup.blockPairs(df, payload, cap, purge, w, oversizedStar = star,
          touching = if (touch) Some(p => p("fresh")) else None, sortKey = Some(col("s")))
        .select(col("a.id"), col("b.id")).collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq.sorted
      val want = reference(star, touch)
      val mode = s"star=$star touching=$touch layout=$li"
      assert(want.nonEmpty, mode)
      assert(got == want, mode)
    }
  }

  test("blockPairs reads a sort column the payload holds from the payload") {
    import spark.implicits._
    // two blocks of 15 > cap: the sorted-neighbourhood links follow the order
    val df = (0 until 30).map(i => (i % 2L, f"d$i%02d", i * 7 % 5)).toDF("key", "id", "s")
    def pairs(payload: org.apache.spark.sql.Column) =
      Dedup.blockPairs(df, payload, cap = 3, snWindow = 2, sortKey = Some(col("s")))
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.select(col("a.id"), col("b.id")).collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    def shuffled(d: org.apache.spark.sql.DataFrame) = d.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression =>
        r.child.output.map(_.name)
    }.flatten
    val inPayload = pairs(struct(col("id"), col("s")))
    val beside = pairs(struct(col("id")))
    assert(!shuffled(inPayload).contains("s"), shuffled(inPayload))
    assert(shuffled(beside).contains("s"), shuffled(beside))
    assert(ids(inPayload) == ids(beside))
  }

  test("simhash pairs detect planted near-dups") {
    val pairs = Dedup.simhashNearDupPairs(docs, "doc_id", "text",
        Dedup.SimHashConfig(maxHamming = 8, segments = 16))
      .collect().map(r => (r.getAs[String]("id_a").toLong, r.getAs[String]("id_b").toLong)).toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((3L, 4L)))
  }

  test("simhash blocking finds EVERY pair within maxHamming (guaranteed radius)") {
    import spark.implicits._
    // fingerprints engineered around a base value with bit flips spread to
    // defeat any single-segment scheme; ids chosen so hamming ≤ 6 pairs exist
    // with errors across many segments
    val rnd = new scala.util.Random(7)
    val base = 0x0123456789abcdefL
    val fps = Seq.tabulate(40) { i =>
      var v = base
      val flips = rnd.nextInt(5) + i % 4 // 0..7 flipped bits
      (0 until flips).foreach(_ => v ^= 1L << rnd.nextInt(64))
      (i.toLong, v)
    }
    // feed fingerprints through the same block/verify machinery by hashing
    // a synthetic doc per fp is impossible — test the banding kernel directly
    val cfg = Dedup.SimHashConfig()
    def keys(fp: Long): Set[Long] =
      graft.functions.HashKernels
        .simhashBandKeys(fp, cfg.segments, cfg.choose).toLongArray().toSet
    for {
      (ia, fa) <- fps; (ib, fb) <- fps if ia < ib
      if java.lang.Long.bitCount(fa ^ fb) <= cfg.maxHamming
    } assert(keys(fa).intersect(keys(fb)).nonEmpty,
      s"pair ($ia,$ib) at hamming ${java.lang.Long.bitCount(fa ^ fb)} shares no key")
  }

  test("oversized exact-dup block still groups via sorted-neighborhood chaining") {
    import spark.implicits._
    // 400 identical docs + small cap: the block takes the SN branch, pairs
    // chain adjacent members, and connected components closes the chain —
    // a big dup family must never escape dedup (round-1 purge bug)
    val many = (0L until 400L).map(i => (i, "same exact content everywhere repeated"))
      .toDF("doc_id", "text")
    val groups = Dedup.minhashNearDupGroups(many, "doc_id", "text",
        Dedup.MinHashConfig(maxBlock = 16, snWindow = 2, verifyJaccard = 0.9))
      .collect().map(_.getAs[String]("group_id")).toSet
    assert(groups.size == 1, s"expected one group, got ${groups.size}")
  }

  test("exact tier beyond maxBlock emits star pairs (rep directly paired with every member)") {
    import spark.implicits._
    val many = (0L until 50L).map(i => (i, "identical body text for the whole family here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDupPairs(many, "doc_id", "text",
        Dedup.SimHashConfig(maxBlock = 8, snWindow = 2))
      .collect().map(r => (r.getAs[String]("id_a").toLong, r.getAs[String]("id_b").toLong))
    // O(n) star, not O(n²) full pairs and not chain-only SN: every member
    // pairs directly with the family min id
    assert(pairs.length == 49, s"expected 49 star pairs, got ${pairs.length}")
    assert(pairs.forall(_._1 == 0L), "star center must be the min id")
    assert(pairs.map(_._2).sorted.toSeq == (1L until 50L).toSeq)
  }

  test("content identity is 128-bit (two independent hash lanes)") {
    val schema = Dedup.exactGroups(docs, "doc_id", "text").schema("content_hash").dataType
    assert(schema.simpleString == "struct<h1:bigint,h2:bigint>",
      s"exact dedup must key on a 128-bit struct, got $schema")
    // the two lanes are genuinely independent hashes, not copies
    val r = Dedup.exactGroups(docs, "doc_id", "text").collect()
      .map(_.getStruct(0)).map(s => (s.getLong(0), s.getLong(1)))
    assert(r.forall { case (h1, h2) => h1 != h2 })
    assert(r.map(_._1).distinct.length == r.length)
    assert(r.map(_._2).distinct.length == r.length)
  }

  test("ngram jaccard exact values") {
    import spark.implicits._
    val d = Seq((0L, "a b c d"), (1L, "a b c e"), (2L, "x y z w")).toDF("doc_id", "text")
    val out = Dedup.ngramJaccardPairs(d, "doc_id", "text", 1, (a, b) => b === a + 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(out((0L, 1L)) - 3.0 / 5.0) < 1e-12)
    assert(out((1L, 2L)) == 0.0)
  }

  test("embedding near-dup via SRP-LSH finds planted duplicates") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val base = Seq.tabulate(50)(i => (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    val dups = base.take(5).map { case (i, v) => (i + 1000L, v.clone()) }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(df, "vec_id", "embedding",
        Dedup.EmbeddingConfig(bands = 12, bits = 8, minCosine = 0.999))
      .collect().map(r => (r.getAs[String]("id_a"), r.getAs[String]("id_b"))).toSet
    for (i <- 0 until 5) {
      val hit = pairs.contains((s"$i", s"${i + 1000}")) ||
        pairs.contains((s"${i + 1000}", s"$i"))
      assert(hit, s"missing dup pair $i")
    }
  }

  test("decontaminate removes exactly the docs sharing an n-gram with the benchmark") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon"),      // contains "beta gamma delta" → contaminated
      (1L, "zeta eta theta iota kappa"),           // clean
      (2L, "one two beta gamma delta three four"), // same 3-gram mid-doc → contaminated
      (3L, "beta gamma mu delta nu xi omicron")    // shares only 1/2-grams → clean at n=3
    ).toDF("doc_id", "text")
    val benchmark = Seq((100L, "prefix words beta gamma delta suffix words here"))
      .toDF("doc_id", "text")
    val kept = Dedup.decontaminate(corpus, benchmark, n = 3)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 3L))
    // empty benchmark removes nothing
    val none = Dedup.decontaminate(corpus, benchmark.filter(col("doc_id") < 0), n = 3)
      .count()
    assert(none == 4L)
  }

  test("lineDedup drops cross-doc boilerplate lines, keeps order, counts removals") {
    import spark.implicits._
    // "cookie banner" appears in all 4 docs, "footer" in 3 of 4; with
    // minDocs=3 both are boilerplate. Repeats WITHIN one doc (doc 3) count
    // that doc once toward df (distinct-doc semantics).
    val docs = Seq(
      (0L, Seq("cookie banner", "alpha", "footer", "beta")),
      (1L, Seq("gamma", "cookie banner", "footer")),
      (2L, Seq("cookie banner", "delta")),
      (3L, Seq("footer", "footer", "cookie banner", "epsilon", "epsilon"))
    ).toDF("doc_id", "lines")
    val out = Dedup.lineDedup(docs, "doc_id", "lines", minDocs = 3)
      .collect()
      .map(r => r.getLong(0) -> (r.getSeq[String](1), r.getLong(2))).toMap
    assert(out(0L) == (Seq("alpha", "beta"), 2L))
    assert(out(1L) == (Seq("gamma"), 2L))
    assert(out(2L) == (Seq("delta"), 1L))
    // doc 3: both footer copies removed, in-doc "epsilon" repeat KEPT
    // (df = 1 doc < 3) and order preserved
    assert(out(3L) == (Seq("epsilon", "epsilon"), 3L))

    // minDocs above every df → identity (and lines_removed all zero)
    val id = Dedup.lineDedup(docs, "doc_id", "lines", minDocs = 10)
      .collect().map(r => r.getLong(0) -> (r.getSeq[String](1), r.getLong(2))).toMap
    assert(id(3L) == (Seq("footer", "footer", "cookie banner", "epsilon", "epsilon"), 0L))
    assert(id.values.forall(_._2 == 0L))

    // a doc that is ALL boilerplate empties but stays present
    val allBoiler = Seq(
      (0L, Seq("x")), (1L, Seq("x")), (2L, Seq("x"))).toDF("doc_id", "lines")
    val e = Dedup.lineDedup(allBoiler, "doc_id", "lines", minDocs = 3)
      .collect().map(r => r.getLong(0) -> (r.getSeq[String](1), r.getLong(2))).toMap
    assert(e.size == 3 && e.values.forall(_ == (Seq.empty[String], 1L)))
  }
}
