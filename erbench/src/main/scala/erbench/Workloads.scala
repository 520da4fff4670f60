package erbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.block.Blocking
import graft.cluster.ConnectedComponents
import graft.dedup.Dedup
import graft.eval.PairwiseF1
import graft.functions.GraftFunctions.id128
import graft.ingest.CorpusGen
import graft.ops.{BloomPrune, CacheScope}
import graft.pipeline.ErPipeline
import graft.schema.Page
import graft.score.PairScorer
import graft.streaming.EntityAssign

/** `CorpusGen.pages` arguments of one workload (workloads.json `generator`);
  * `batchMod` sizes the held-out batch of the traced incremental fold. */
final case class Gen(docs: Long, avgClusterSize: Int, paragraphs: Int,
                     paraWords: Int, partitions: Int, batchMod: Int)

/** Output quality, computed once per process on the reference output. */
final case class Quality(pairwiseF1: Double, cloneRecall: Double, checks: Seq[(String, Boolean)])

/**
 * One ER workload: a corpus generated from the seed, the timed call into
 * the program, and the staged layer calls of the traced run. The program
 * only ever sees the generated pages.
 */
abstract class Workload(val spark: SparkSession, val gen: Gen, val seed: Long, val work: String) {
  implicit val pageEnc: org.apache.spark.sql.Encoder[Page] = Encoders.product[Page]
  protected val corpusDir = s"$work/corpus"
  protected val er = ErPipeline.Config()
  protected var pages: Dataset[Page] = _
  private var gold: DataFrame = _

  /** The timed call: pages -> (url, cluster_id). */
  def call(): DataFrame
  /** Call-site children of the timed call's traced span (`pipeline.run`). */
  def bySite: Map[String, String] = Map.empty
  /** Untimed preparation before each call. */
  def beforeRun(): Unit = ()
  /** Staged layer calls of the traced pass, after the traced timed call. */
  def afterTrace(t: Tracer): Unit = ()

  /** Checksum of the timed call's output, recorded at set-up. */
  var reference: String = ""

  /** One set-up repetition: generate the corpus and read it back. */
  def setup(): Unit = {
    CorpusGen.pages(spark, gen.docs, seed, gen.avgClusterSize, gen.partitions,
        gen.paragraphs, gen.paraWords)
      .write.mode("overwrite").parquet(corpusDir)
    pages = spark.read.parquet(corpusDir).as[Page]
  }

  def corpusChecksum(): String = Checksum.of(spark.read.parquet(corpusDir)).digest

  private def goldPairs(): DataFrame =
    CorpusGen.goldPairs(spark, gen.docs, seed, gen.avgClusterSize, gen.partitions)

  def quality(clusters: DataFrame): Quality = {
    val f1 = PairwiseF1.evaluate(goldPairs(), clusters).f1
    val (recall, planted) = Quality.cloneRecall(pages.select(col("url").as("id"), col("text")),
      clusters.select(col("url").as("id"), col("cluster_id").as("gid")))
    Quality(f1, recall, Seq(
      "one cluster row per input doc" -> (clusters.count() == gen.docs),
      "corpus plants duplicate pages" -> (planted > 0)))
  }

  /** The ER layers called one by one, checked against the timed call. */
  def stagedTrace(t: Tracer): Unit = {
    if (gold == null) gold = goldPairs().localCheckpoint(eager = true)
    val staged = StagedEr.run(t, pages, gold, er)
    val got = t.span("erbench.counts")(Checksum.of(staged)).digest
    if (got != reference) t.mismatches += s"staged ER: checksum $got != reference $reference"
  }
}

object Quality {
  /** Pages sharing their exact text with another page (the generator's
    * planted duplicates, and the clones the traced dedup calls add), each
    * paired with the minimum id of its text family: (id, src). */
  def plantedPairs(docs: DataFrame): DataFrame = {
    val src = docs.groupBy(col("text")).agg(min(col("id")).as("src"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
    docs.join(src, Seq("text")).filter(col("id") =!= col("src")).select(col("id"), col("src"))
  }

  /** Share of planted duplicates grouped with their source, and their count. */
  def cloneRecall(docs: DataFrame, groups: DataFrame): (Double, Long) = {
    val planted = plantedPairs(docs).localCheckpoint(eager = true)
    val n = planted.count()
    val hit = planted
      .join(groups, Seq("id"))
      .join(groups.select(col("id").as("src"), col("gid").as("src_gid")), Seq("src"))
      .filter(col("gid") === col("src_gid")).count()
    (if (n == 0) 0.0 else hit.toDouble / n, n)
  }
}

/** Staged ER layers shared by the two full-build ER workloads. */
object StagedEr {
  /** The `ErPipeline.run` layers called one by one, each output
    * materialized, with the layer counts. Returns the relabelled
    * assignment (same contract as `ErPipeline.run`). */
  def run(t: Tracer, pages: Dataset[Page], gold: DataFrame,
          cfg: ErPipeline.Config): DataFrame = {
    val scope = new CacheScope
    val featsU = t.layer("block.features", scope) {
      Blocking.features(pages, cfg.blocking, Some(scope))
        .select(col("url"), col("mention"), col("sig"))
    }
    val feats = featsU.withColumn("url", id128(col("url")))
    val blocks = t.layer("block.keys", scope)(Blocking.blockKeys(feats, cfg.blocking))
    val stats = t.span("erbench.counts")(Blocking.blockStats(blocks).first())
    t.counts("block.keys.max_block") = stats.getAs[Number]("max_block").doubleValue
    t.counts("block.keys.p99_block") = stats.getAs[Number]("p99_block").doubleValue
    val pairs = t.layer("block.pairs", scope)(Blocking.candidatePairs(blocks, cfg.blocking))
    t.count("block.pairs.blocking_recall") {
      def canon(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        Seq(least(a, b).as("a"), greatest(a, b).as("b"))
      val pos = gold.filter(col("is_match"))
        .select(canon(id128(col("url_a")), id128(col("url_b"))): _*)
      val hit = pos.join(pairs.select(canon(col("url_a"), col("url_b")): _*),
        Seq("a", "b"), "left_semi").count()
      hit.toDouble / math.max(1L, pos.count())
    }
    val edges = t.layer("score.attach_score", scope) {
      PairScorer.score(Blocking.attachFeatures(pairs, feats), cfg.scorer)
    }
    val rowsOf = t.spans.map(s => s.name -> s.rowsOut).toMap
    t.counts("score.attach_score.accept_ratio") =
      rowsOf("score.attach_score").toDouble / math.max(1L, rowsOf("block.pairs"))
    val clusters = t.layer("cluster.cc", scope) {
      val nodes = pages.toDF().select(col("url"), id128(col("url")).as("nid"))
      val assigned = ConnectedComponents.assignAllKeyed(nodes, edges, "nid",
        edgesCanonical = true)
      // ErPipeline's output labelling: each component by its minimum url
      val labels = assigned.groupBy(col("cluster_id")).agg(min(col("url")).as("cluster_url"))
      assigned.join(labels, Seq("cluster_id"))
        .select(col("url"), col("cluster_url").as("cluster_id"))
    }
    val sizes = t.span("erbench.counts") {
      clusters.groupBy(col("cluster_id")).count().agg(count(lit(1)), max(col("count"))).first()
    }
    t.counts("cluster.cc.components") = sizes.getLong(0).toDouble
    t.counts("cluster.cc.max_component") = sizes.getLong(1).toDouble
    val out = clusters.localCheckpoint(eager = true)
    scope.close()
    out
  }
}

/** `ErPipeline.run` over long pages: the feature kernel is the heaviest
  * layer. The traced run also folds a held-out batch into an ER state over
  * the rest (`ErPipeline.incremental`). */
final class ErBatch(spark: SparkSession, gen: Gen, seed: Long, work: String)
    extends Workload(spark, gen, seed, work) {
  def call(): DataFrame = ErPipeline.run(pages, er)

  /** Wall of one timed call in another session (used at local[1]). */
  def wallIn(s: SparkSession): Double = {
    val p = s.read.parquet(corpusDir).as[Page]
    val t0 = System.nanoTime()
    Checksum.of(ErPipeline.run(p, er))
    (System.nanoTime() - t0) / 1e9
  }

  /** The incremental write path, on the same corpus: fold a held-out
    * 1/`batchMod` of it into the state an ER build over the rest leaves
    * (assignment, frozen stops, feature snapshot — built untraced). */
  override def afterTrace(t: Tracer): Unit = {
    val isNew = pmod(xxhash64(col("url")), lit(gen.batchMod)) === 0
    val old = pages.filter(!isNew)
    val batch = pages.toDF().filter(isNew)
    val scope = new CacheScope
    val (oldAssign, stops, oldFeats) = t.span("erbench.counts") {
      val a = ErPipeline.run(old, er).localCheckpoint(eager = true)
      val st = EntityAssign.corpusStops(old.toDF(), er.blocking).localCheckpoint(eager = true)
      val f = Blocking.features(old, er.blocking, Some(scope))
        .select(col("url"), col("mention"), col("sig")).localCheckpoint(eager = true)
      (a, st, f)
    }
    val newF = t.layer("streaming.page_features", scope) {
      EntityAssign.pageFeatures(batch, stops, er.blocking)
    }
    // A replica of the fold's bloom pre-prune of the corpus block table on
    // the batch keys. incremental runs its own prune as a scalar subquery,
    // whose jobs belong to the outer action's SQL execution and carry its
    // call site, so no call site splits it out of pipeline.incremental.
    var kept = 0L
    t.span("ops.bloom") {
      val newBlocks = Blocking.blockKeys(newF, er.blocking)
      val touchKey = BloomPrune.mightContain(newBlocks.select(col("key")), "key", col("key"),
        math.max(1L, newBlocks.count()))
      kept = Blocking.blockKeys(oldFeats, er.blocking).filter(touchKey).count()
    }
    t.setRows("ops.bloom", kept)
    val folded = t.span("pipeline.incremental",
        Map("ConnectedComponents.scala" -> "cluster.incremental")) {
      Checksum.of(ErPipeline.incremental(oldFeats, oldAssign, newF, er))
    }
    if (folded.rows != gen.docs)
      t.mismatches += s"incremental fold: ${folded.rows} rows for ${gen.docs} docs"
    scope.close()
  }
}

/** `ErPipeline.runCheckpointed` over short pages of large entities: blocks
  * outgrow `maxBlock`, so the sorted-neighbourhood branch runs, pairs and
  * scoring dominate, and every stage is written and resumable. The traced
  * run also runs the dedup operators over these pages and an exact clone of
  * each. */
final class ErHotkeysCkpt(spark: SparkSession, gen: Gen, seed: Long, work: String)
    extends Workload(spark, gen, seed, work) {
  private val ckptDir = s"$work/ckpt"
  def call(): DataFrame = ErPipeline.runCheckpointed(spark, pages, ckptDir, er)
  override def bySite: Map[String, String] =
    Map("Checkpoints.scala" -> "ops.checkpoint", "Lineage.scala" -> "ops.lineage")
  override def beforeRun(): Unit = Files.delete(ckptDir)

  override def afterTrace(t: Tracer): Unit = {
    val stageDirs = Option(new File(ckptDir).listFiles()).toSeq.flatten.filter(_.isDirectory)
    t.counts("ops.checkpoint.write_mb") = stageDirs.map(d =>
      Files.size(new File(d, "data")) + Files.size(new File(d, "manifest.json"))).sum / 1e6
    t.counts("ops.lineage.write_mb") =
      stageDirs.map(d => Files.size(new File(d, "counters.json"))).sum / 1e6
    // every stage committed: a second call resumes them all
    val resumed = t.span("ops.resume")(Checksum.of(call()))
    t.setRows("ops.resume", resumed.rows)
    if (resumed.digest != reference)
      t.mismatches += s"resumed run: checksum ${resumed.digest} != reference $reference"

    // the dedup operators: every planted duplicate (each page's exact clone,
    // and the generator's own duplicate pages) must be linked to its source
    val scope = new CacheScope
    val docs = t.span("erbench.counts") {
      val p = pages.toDF().select(col("url").as("id"), col("text"))
      scope.cache(p.unionByName(p.withColumn("id", concat(col("id"), lit("#clone")))))
    }
    val groups = t.layer("dedup.minhash_groups", scope,
        Map("ConnectedComponents.scala" -> "cluster.assign_all")) {
      Dedup.minhashNearDupGroups(docs, "id", "text")
    }
    val simPairs = t.layer("dedup.simhash_pairs", scope) {
      Dedup.simhashNearDupPairs(docs, "id", "text")
    }
    t.span("erbench.counts") {
      val planted = Quality.plantedPairs(docs).localCheckpoint(eager = true)
      val n = planted.count()
      val (groupRecall, _) =
        Quality.cloneRecall(docs, groups.select(col("id"), col("group_id").as("gid")))
      val linked = planted.join(simPairs,
        col("src") === col("id_a") && col("id") === col("id_b"), "left_semi").count()
      if (n < gen.docs || groupRecall != 1.0 || linked != n)
        t.mismatches +=
          s"dedup: $n planted duplicates, minhash group recall $groupRecall, simhash linked $linked"
    }
    scope.close()
  }
}

object Workload {
  def apply(name: String, spark: SparkSession, gen: Gen, seed: Long, work: String): Workload =
    name match {
      case "er_batch" => new ErBatch(spark, gen, seed, work)
      case "er_hotkeys_ckpt" => new ErHotkeysCkpt(spark, gen, seed, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
}

/** Order-independent checksum over every output column: row count, the
  * exact sum of per-row 64-bit hashes, and their xor. Hashing every column
  * keeps Catalyst from pruning any of them, unlike `.count()`. */
object Checksum {
  final case class Sum(rows: Long, digest: String)

  def of(df: DataFrame): Sum = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), bit_xor(col("h")))
      .first()
    Sum(r.getLong(0), s"${r.getLong(0)}:${r.getDecimal(1)}:${r.getLong(2)}")
  }
}

object Files {
  def delete(path: String): Unit = {
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(path))
  }
  def size(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(size).sum
    else if (f.exists()) f.length() else 0L
}
