package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/**
 * Driver contract (see /root/repo/SURVEY.md §2 for the operator inventory
 * each query exercises). Every oracle-checked query aliases its columns
 * identically in the Spark plan and the DuckDB SQL; float outputs are
 * rounded on both sides.
 */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** `t`, spread across the session's configured fan-out when the backing
    * file is SMALL. A sub-split-size parquet file scans as 1-2 tasks, which
    * starves every downstream per-row kernel (tokenize/window/minhash over
    * each doc) of parallelism — measured 0.4-0.8 s map stages on 2 of 32
    * cores for the heavy document queries (guide §2: the distributed
    * algorithm first — parallelism before per-task tuning). The guard
    * keeps this strictly a small-input fix: at real corpus sizes the scan
    * already yields data-proportional splits and a blanket repartition
    * would add a full pass over the payload for nothing. Round-robin
    * repartition is deterministic under retries (sort-before-repartition,
    * SPARK-23207) and every consumer below is row-order independent. */
  private def tSpread(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = t(spark, dir, name)
    val small = pathBytes(spark, s"$dir/$name.parquet") < 64L * 1024 * 1024
    if (small) df.repartition(spark.sessionState.conf.numShufflePartitions) else df
  }

  /** Bytes stored under `path`: a single file's length, or the sum over a
    * directory's files (a Spark-written parquet is a directory of part
    * files, whose own `File.length` is the inode size, ~4 KB). */
  private[graft] def pathBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
  }

  /** Deterministically-messy urls planted from doc_id for the url queries:
    * mod lanes cover scheme/host case, www + non-www subdomains, default
    * ports, ccSLD tlds (co.uk), empty paths, tracking-param mixes, and
    * fragments — every rule in [[text.Urls.canonicalize]] fires on some lane.
    * Mirrored verbatim by the oracle SQL's `planted` CTE. */
  private def plantedUrls(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    def s(c: Column) = c.cast("string")
    docs.withColumn("url", concat(
      when(id % 2 === 0, "HTTPS").otherwise("http"), lit("://"),
      when(id % 3 === 0, "WWW.").when(id % 3 === 1, "blog.").otherwise(""),
      lit("Site"), s(id % 50), lit("."),
      when(id % 4 === 0, "com").when(id % 4 === 1, "co.uk")
        .when(id % 4 === 2, "org").otherwise("net"),
      when(id % 5 === 0, ":443").otherwise(""),
      when(id % 7 === 0, "").otherwise(concat(lit("/p/"), s(id))),
      when(id % 6 === 0, "?utm_source=feed")
        .when(id % 6 === 1, concat(lit("?id="), s(id % 9), lit("&utm_medium=a")))
        .when(id % 6 === 2, "?utm_a=1&utm_b=2").otherwise(""),
      when(id % 11 === 0, "#sec").otherwise("")))
  }

  /** documents ∪ exact clones at doc_id + 1,000,000 — the planted-duplicate
    * corpus behind the oracled dedup/ER queries: an exact dup is found with
    * probability 1 by every near-dup operator here (identical features ⇒
    * identical blocking keys), so the clone pair set is DuckDB-predictable. */
  private def docsWithClones(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    d.unionByName(d.withColumn("doc_id", col("doc_id") + 1000000))
  }

  /** Canonical numeric pair order (dedup ids travel as strings). */
  private def numPair(df: DataFrame, extra: Column*): DataFrame = {
    val a = col("id_a").cast("bigint")
    val b = col("id_b").cast("bigint")
    df.select((Seq(least(a, b).as("id_a"), greatest(a, b).as("id_b")) ++ extra): _*)
  }

  /** Flagship: the ER pipeline end-to-end on a 500-page synthetic corpus. */
  def entry(spark: SparkSession): DataFrame = {
    val pages = ingest.CorpusGen.pages(spark, 500L, seed = 42L, partitions = 8)
    pipeline.ErPipeline.run(pages)
  }

  /** documents ∪ clones as ER `Page`s (the end-to-end pipeline input whose
    * gold pair set — (id, id+1,000,000) — is arithmetic, so the full
    * blocking→scoring→clustering run is DuckDB-oracle-checkable). */
  private def clonePages(s: SparkSession, dir: String) = {
    docsWithClones(s, dir).select(
      col("doc_id").cast("string").as("url"),
      lit(java.sql.Timestamp.valueOf("2020-01-01 00:00:00")).as("warc_ts"),
      col("text").cast("binary").as("html"),
      col("text"),
      lit("en").as("lang"))
      .as[graft.schema.Page](org.apache.spark.sql.Encoders.product[graft.schema.Page])
  }

  /** Deterministic triplet fixtures over `documents`: gold = consecutive
    * 't…'-token spans related by `r((p+np)%3)`; pred = gold with arithmetic
    * perturbations (drops → fn, relabels → fp) — every rule replayable in
    * DuckDB, so the RE eval operators get exact oracles. */
  private def tripletFixture(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p"))
    val tok = t(s, dir, "documents")
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("p", "token")))
      .filter(startswith(col("token"), lit("t")))
    val base = tok
      .withColumn("np", lead(col("p"), 1).over(w))
      .withColumn("ntoken", lead(col("token"), 1).over(w))
      .filter(col("np").isNotNull)
    val gold = base.select(
      col("doc_id"), col("p"),
      col("p").as("s_start"), (col("p") + 1).as("s_end"), col("token").as("s_label"),
      concat(lit("r"), (col("p") + col("np")) % 3).as("relation"),
      col("np").as("o_start"), (col("np") + 1).as("o_end"), col("ntoken").as("o_label"))
    val pred = gold
      .filter(col("p") % 7 =!= 0) // dropped triplets -> recall < 1
      .withColumn("relation",
        when(col("p") % 5 === 0, lit("rX")).otherwise(col("relation"))) // wrong relation
      .withColumn("s_label",
        when(col("p") % 11 === 0, upper(col("s_label"))).otherwise(col("s_label"))) // strict-only miss
    (pred.drop("p"), gold.drop("p"))
  }

  /** Deterministic retrieval fixture for the J6/J7 training joins: each
    * document qid "retrieves" the next 8 doc_ids at rank 1..8; a candidate
    * is a positive when its lang matches the query's (gold), otherwise a
    * plain or hard negative by n_chars parity. pkey mirrors the reference's
    * text-identity dedup (datasets.py:486-494) on a 24-char prefix. Every
    * rule is arithmetic, so DuckDB replays it exactly. */
  private def ctxFixture(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val q = d.select(col("doc_id").as("qid"), col("lang").as("q_lang"))
    val cands = d.select(col("doc_id").as("cand_id"), col("lang").as("c_lang"),
      col("n_chars"), md5(substring(col("text"), 1, 24).cast("binary")).as("pkey"))
    q.withColumn("rank", explode(sequence(lit(1), lit(8))))
      .withColumn("cand_id", col("qid") + col("rank"))
      .join(cands, Seq("cand_id"))
      .withColumn("role",
        when(col("q_lang") === col("c_lang"), "pos")
          .when(col("n_chars") % 2 === 0, "neg").otherwise("hneg"))
      .select(col("qid"), col("cand_id"), col("rank").cast("long").as("rank"),
        col("role"), col("pkey"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ------------------------------------------------- training joins J6/J7
    "j6_positive_join" -> ((s, dir) =>
      train.TrainingJoins.assembleSamples(ctxFixture(s, dir), maxPerRole = 2)),

    "j6_inbatch_labels" -> ((s, dir) =>
      train.TrainingJoins.inBatchLabelStats(
        train.TrainingJoins.assembleSamples(ctxFixture(s, dir), maxPerRole = 2),
        questionsPerBatch = 50)),

    "j7_hard_negatives" -> ((s, dir) => {
      val ctx = ctxFixture(s, dir)
      val preds = ctx.select(col("qid"), col("cand_id"), col("rank"))
      val gold = ctx.filter(col("role") === "pos").select(col("qid"), col("cand_id"))
      train.TrainingJoins.hardNegatives(preds, gold, maxNegatives = 3)
    }),

    // ---------------------------------------------------------- ER pipeline
    // full blocking→scoring→clustering run, oracled: every planted clone
    // pair (exact dup ⇒ identical features ⇒ same block ⇒ score 1 ≥ τ ⇒
    // same cluster) must be a true positive, so (tp, fn) vs the arithmetic
    // gold is exact. Precision-side counts are data-dependent and live in
    // ErPipelineSpec (F1 ≥ 0.99 gate) instead.
    "er_pipeline" -> ((s, dir) => {
      val clusters = pipeline.ErPipeline.run(clonePages(s, dir))
      val gold = t(s, dir, "documents").select(
        col("doc_id").cast("string").as("url_a"),
        (col("doc_id") + 1000000).cast("string").as("url_b"),
        lit(true).as("is_match"))
      eval.PairwiseF1.confusion(gold, clusters).select(col("tp"), col("fn"))
    }),

    // -------------------------------------------------- relational operators
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1997-12-01 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("n"))
    }),

    "q3_top_orders" -> ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
      // SHUFFLE_HASH on the fact side: the planner's size estimate put the
      // whole lineitem table under the broadcast threshold and built a
      // 600k-row hashed relation single-threaded on the driver (~1s gap,
      // guide §3.1 "estimates are often badly wrong"); a shuffled hash
      // join moves both sides as thin projected columns in parallel and is
      // the strategy a 100-TB lineitem needs anyway (broadcasting a fact
      // table is a scale-killer).
      val l = t(s, dir, "lineitem").hint("shuffle_hash")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc)
        .limit(10)
    }),

    "j3_broadcast_dim" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))
    }),

    "j_semi_anti" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").select(col("o_custkey"))
      val withO = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_with"))
      val withoutO = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_without"))
      withO.join(withoutO, Seq("c_nationkey"), "full_outer")
        .select(col("c_nationkey"),
          coalesce(col("n_with"), lit(0L)).as("n_with"),
          coalesce(col("n_without"), lit(0L)).as("n_without"))
    }),

    "t1_topk_per_group" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rank"))
    }),

    "w3_sorted_neighborhood" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("n_chars").asc, col("doc_id").asc)
      t(s, dir, "documents")
        .withColumn("next_doc_id", lead(col("doc_id"), 1).over(w))
        .filter(col("next_doc_id").isNotNull)
        .select(col("lang"), col("doc_id"), col("next_doc_id"))
    }),

    "u_set_ops" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.filter(col("lang") === "en").select(col("doc_id"))
        .except(d.filter(col("source") === "src0").select(col("doc_id")))
    }),

    "f2_length_filter" -> ((s, dir) => {
      t(s, dir, "documents")
        .filter(col("n_chars").between(100, 400))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), min(col("n_chars")).as("min_c"), max(col("n_chars")).as("max_c"))
    }),

    "events_hourly" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
    }),

    "stream_windowed" -> ((s, dir) => {
      // batch/stream-parity plan: same function drives readStream in tests
      streaming.StreamOps.windowedEventStats(t(s, dir, "events"))
        .select(col("win_start").cast("timestamp_ntz").as("win_start"),
          col("event_type"), col("n"),
          round(col("total_value"), 2).as("total_value"))
    }),

    "a2_argmax_dedup" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("value").desc, col("event_id").asc)
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"))
    }),

    "p2_sentence_split" -> ((s, dir) => {
      // abbreviation-aware boundary rule (P2): `[.!?]` + spaces + uppercase,
      // except after known abbreviations; sentences PARTITION the text
      // (concat == original), the invariant windowing relies on
      t(s, dir, "documents")
        .select(col("doc_id"), posexplode(split_sentences(col("text"))))
        .select(col("doc_id"), col("pos"), col("col").as("sentence"))
    }),

    "p2b_sentence_windows" -> ((s, dir) => {
      // sentence-mode window dispatch (annotator.py:338-352 → WindowManager
      // sample shape): window_id + char offset + text slice per sentence
      merge.Windows.createWindows(t(s, dir, "documents"), "doc_id", "text",
        merge.Windows.WindowMode.Sentence)
    }),

    "json_extract" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("bigint").as("k"))
    }),

    "p3_window_split" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("tokens"))
      merge.Windows.splitTokens(d, "tokens", 32, 16)
        .select(col("doc_id"), col("offset").as("off"), array_join(col("window"), " ").as("win"))
    }),

    "a1_window_merge" -> ((s, dir) => {
      // the real A1 contract (manager.py:343-430): overlapping windows carry
      // span annotations in doc coordinates; the merge must union them,
      // dedup the copies that overlap zones produce, keep the FIRST-SEEN
      // probability (earliest window), and sort by start. Synthetic spans =
      // every token starting with 't' (one-token span, label = the token,
      // prob = 1 + offset of the window that saw it)
      val d = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("tokens"))
      val w = merge.Windows.splitTokens(d, "tokens", 32, 16)
        .select(col("doc_id"), col("offset"), col("window"))
      val withSpans = w.withColumn("spans",
        filter(
          transform(col("window"), (tok, i) =>
            when(startswith(tok, lit("t")), struct(
              (col("offset") + i).cast("int").as("start"),
              (col("offset") + i + 1).cast("int").as("end"),
              tok.as("label"),
              (col("offset") + 1).cast("double").as("prob")))),
          x => x.isNotNull))
      spans.Spans.mergeWindowSpans(withSpans, "doc_id", "offset", "spans")
        .select(col("doc_id"), explode(col("spans")).as("sp"))
        .select(col("doc_id"), col("sp.start").as("start"), col("sp.end").as("end"),
          col("sp.label").as("label"), col("sp.prob").as("prob"))
    }),

    "a1_triplet_merge" -> ((s, dir) => {
      // RE-side A1 (manager.py:400-430): per-window triplets = consecutive
      // 't…'-token spans inside the window; the doc merge must union them,
      // dedup tuples seen by several overlapping windows (conf = first-seen
      // window), and sort — oracled against window-free doc-level truth
      val d = tSpread(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("tokens"))
      val w = merge.Windows.splitTokens(d, "tokens", 32, 16)
        .select(col("doc_id"), col("offset"), col("window"))
      val withSpans = w.withColumn("spans",
        filter(
          transform(col("window"), (tok, i) =>
            when(startswith(tok, lit("t")), struct(
              (col("offset") + i).cast("int").as("start"),
              (col("offset") + i + 1).cast("int").as("end"),
              tok.as("label"),
              lit(1.0).as("prob")))),
          x => x.isNotNull))
      val withTriplets = withSpans.withColumn("triplets",
        when(size(col("spans")) < 2, array().cast(
            "array<struct<subject:struct<start:int,end:int,label:string,prob:double>," +
            "relation:string,obj:struct<start:int,end:int,label:string,prob:double>,conf:double>>"))
          .otherwise(zip_with(
            slice(col("spans"), lit(1), size(col("spans")) - 1),
            slice(col("spans"), lit(2), size(col("spans")) - 1),
            (a, b) => struct(
              a.as("subject"),
              concat(lit("r"), (a.getField("start") + b.getField("start")) % 3).as("relation"),
              b.as("obj"),
              (col("offset") + 1).cast("double").as("conf")))))
      spans.Triplets.mergeWindowTriplets(withTriplets, "doc_id", "offset", "triplets")
        .select(col("doc_id"), explode(col("triplets")).as("tr"))
        .select(col("doc_id"),
          col("tr.s_start").as("s_start"), col("tr.s_end").as("s_end"),
          col("tr.s_label").as("s_label"), col("tr.relation").as("relation"),
          col("tr.o_start").as("o_start"), col("tr.o_end").as("o_end"),
          col("tr.o_label").as("o_label"), col("tr.conf").as("conf"))
    }),

    "rel_strong_matching" -> ((s, dir) => {
      // A3 RE-side: corpus-level boundary + strict triplet P/R/F1
      // (relation_matching_eval.py:13-237) over the deterministic fixture
      val (pred, gold) = tripletFixture(s, dir)
      eval.TripletEval.strongMatching(pred, gold)
        .select(col("n_gold"), col("n_pred"), col("correct_bound"), col("correct_strict"),
          round(col("precision_bound"), 4).as("precision_bound"),
          round(col("recall_bound"), 4).as("recall_bound"),
          round(col("f1_bound"), 4).as("f1_bound"),
          round(col("precision_strict"), 4).as("precision_strict"),
          round(col("recall_strict"), 4).as("recall_strict"),
          round(col("f1_strict"), 4).as("f1_strict"))
    }),

    "rel_per_relation" -> ((s, dir) => {
      // per-relation P/R/F1 breakdown (relation_matching_eval.py:240-341)
      val (pred, gold) = tripletFixture(s, dir)
      eval.TripletEval.perRelation(pred, gold)
        .select(col("relation"), col("support"), col("n_pred"),
          col("correct_bound"), col("correct_strict"),
          round(col("precision"), 4).as("precision"),
          round(col("recall"), 4).as("recall"),
          round(col("f1"), 4).as("f1"),
          round(col("f1_strict"), 4).as("f1_strict"))
    }),

    "a1_candidate_merge" -> ((s, dir) => {
      // A1 candidate-list completion (manager.py:432-464): each window's
      // ranked candidates (here: its first 3 tokens) concat across windows
      // in offset order, first-seen dedup — the doc-level candidate list
      val d = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("tokens"))
      val w = merge.Windows.splitTokens(d, "tokens", 32, 16)
        .withColumn("cands", slice(col("window"), 1, 3))
        .select(col("doc_id"), col("offset"), col("cands"))
      spans.Triplets.mergeWindowCandidates(w, "doc_id", "offset", "cands")
        .select(col("doc_id"), posexplode(col("candidates")))
        .select(col("doc_id"), (col("pos") + 1).as("rank"), col("col").as("candidate"))
    }),

    "eval_miss_diagnostics" -> ((s, dir) => {
      // candidate-miss split (strong_matching_eval.py:86-127): FN = blocking
      // miss vs scored-apart, over a deterministic gold/candidate/cluster
      // fixture on `documents`
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
      val gold = d.as("a").join(d.as("b"),
          col("b.doc_id") === col("a.doc_id") + 1 && col("a.lang") === col("b.lang"))
        .select(col("a.doc_id").cast("string").as("url_a"),
          col("b.doc_id").cast("string").as("url_b"),
          lit(true).as("is_match"),
          abs(col("a.n_chars") - col("b.n_chars")).as("dist"))
      val cands = gold.filter(col("dist") <= 150).select(col("url_a"), col("url_b"))
      val clusters = d.select(col("doc_id").cast("string").as("url"),
        concat(col("lang"), lit("-"), floor(col("doc_id") / 10)).as("cluster_id"))
      eval.PairwiseF1.missDiagnostics(gold.drop("dist"), cands, clusters)
        .select(col("n_gold_pos"), col("tp"), col("fn_not_candidate"),
          col("fn_scored_apart"),
          round(col("recall"), 4).as("recall"),
          round(col("blocking_recall"), 4).as("blocking_recall"))
    }),

    "p1_tokenize_offsets" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), explode(tokenize_offsets(col("text"))).as("tk"))
        .select(col("doc_id"), col("tk.i").as("i"), col("tk.text").as("token"),
          col("tk.idx").as("idx"), col("tk.idx_end").as("idx_end"))
    }),

    "p6_char_to_token" -> ((s, dir) => {
      // char span → token span (exact-then-snap boundary rule,
      // cli/data.py:158-206) and back (manager.py:78-116)
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"), col("n_chars"))
        .withColumn("s_char", least(lit(10), col("n_chars") - 1))
        .withColumn("e_char", least(lit(60), col("n_chars")))
      spans.Spans.withTokenSpans(d, "text", col("s_char"), col("e_char"))
        .select(col("doc_id"), col("s_char"), col("e_char"),
          col("ts"), col("te"), col("snap_start"), col("snap_end"))
    }),

    "w2_budget_batches" -> ((s, dir) => {
      // W2 sort-by-length + T5 token-budget batching: greedy pack per lang
      // group in ascending (tokens, id) order, ≤2000 tokens and ≤128 rows
      // per batch (relik_reader_data.py:141-149 contract)
      val d = t(s, dir, "documents")
        .select(col("lang"), col("doc_id"), size(split(col("text"), " ")).as("n_toks"))
      ops.Batching.tokenBudgetBatches(d, "lang", "doc_id", "n_toks", budget = 2000)
        .select(col("group").as("grp"), col("id"), col("n_tokens"),
          col("batch"), col("batch_pos"))
    }),

    "j2_candidate_lists" -> ((s, dir) => {
      // J2 shape: per-query RANKED candidate list (collect_list of structs,
      // annotator.py:514-527) + per-k recall of a deterministic gold
      // (strong_matching_eval.py:60-85 protocol, array_position rank lookup).
      // ORACLE-ONLY plan: the same-lang self-join is O(n²) per language —
      // exact parity fixture, never a pattern; the scale path for candidate
      // generation is Blocking.candidatePairs / Ann.lshTopK
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
      val pairs = d.as("q").join(d.as("c"),
          col("q.lang") === col("c.lang") && col("q.doc_id") =!= col("c.doc_id"))
        .select(col("q.doc_id").as("qid"), col("c.doc_id").as("cid"),
          abs(col("q.n_chars") - col("c.n_chars")).as("dist"))
      val wr = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("dist").asc, col("cid").asc)
      val cands = pairs.withColumn("rank", row_number().over(wr))
        .filter(col("rank") <= 10)
        .groupBy(col("qid"))
        .agg(sort_array(collect_list(struct(col("rank"), col("cid")))).as("cands"))
      // gold: same-lang doc with the closest doc_id (ties → smaller id)
      val wg = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("doc_id"))
      val gold = d
        .withColumn("prev_id", lag(col("doc_id"), 1).over(wg))
        .withColumn("next_id", lead(col("doc_id"), 1).over(wg))
        .withColumn("gold",
          when(col("prev_id").isNull, col("next_id"))
            .when(col("next_id").isNull, col("prev_id"))
            .when(col("doc_id") - col("prev_id") <= col("next_id") - col("doc_id"),
              col("prev_id"))
            .otherwise(col("next_id")))
        .select(col("doc_id").as("qid"), col("gold"))
        .filter(col("gold").isNotNull)
      val ranked = cands.join(gold, "qid")
        .withColumn("gold_rank",
          coalesce(array_position(
            transform(col("cands"), c => c.getField("cid")), col("gold")), lit(0L)))
      ranked.agg(
        count(lit(1)).as("n_queries"),
        round(avg(col("gold_rank").between(1, 1).cast("int")), 4).as("recall_at_1"),
        round(avg(col("gold_rank").between(1, 5).cast("int")), 4).as("recall_at_5"),
        round(avg(col("gold_rank").between(1, 10).cast("int")), 4).as("recall_at_10"))
    }),

    "a3_micro_prf" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("pred", col("event_type") === "click")
        .withColumn("gold", col("value") > 100.0)
      e.agg(
        sum(when(col("pred") && col("gold"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") && !col("gold"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("pred") && col("gold"), 1L).otherwise(0L)).as("fn"))
        .withColumn("precision", round(col("tp") / greatest(col("tp") + col("fp"), lit(1L)), 4))
        .withColumn("recall", round(col("tp") / greatest(col("tp") + col("fn"), lit(1L)), 4))
    }),

    "a4_recall_at_k" -> ((s, dir) => {
      // ORACLE-ONLY plan: the global no-partition Window is a single-task
      // sort — fine for an exact DuckDB parity check on a small fixture,
      // never a pattern for production recall@k (use
      // PairwiseF1.blockingRecall / per-group windows instead)
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"))
        .withColumn("cands", array(lead(col("lang"), 1).over(w),
          lead(col("lang"), 2).over(w), lead(col("lang"), 3).over(w)))
        .filter(!array_contains(transform(col("cands"), c => c.isNull), true))
        .agg(round(avg(array_contains(col("cands"), col("lang")).cast("int")), 4).as("recall_at_3"))
    }),

    "p5_char_windows" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("n_chars"))
        .withColumn("off", explode(sequence(lit(0), greatest(col("n_chars") - 64, lit(0)).cast("int"), lit(64))))
        .select(col("doc_id"), col("off"), substring(col("text"), col("off") + 1, lit(128)).as("win"))
    }),

    // ------------------------------------------------------ text analysis
    "j8_pair_score" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), substring(col("text"), 1, 40).as("frag"))
      d.as("a").join(d.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .select(
          col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          round(jaro_winkler(col("a.frag"), col("b.frag")), 4).as("jw"),
          levenshtein(col("a.frag"), col("b.frag")).as("lev"))
    }),

    "f6_dedup_exact" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(md5(col("text").cast("binary")).as("content_md5"))
        .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_dups"))
    }),

    "ngram_jaccard" -> ((s, dir) => {
      dedup.Dedup.ngramJaccardPairs(
          tSpread(s, dir, "documents"), "doc_id", "text", 1, (a, b) => b === a + 1)
        .filter(col("jaccard") > 0)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
    }),

    // Deterministic importance sampling: per-row acceptance probability
    // from a replayable quality proxy (length-based here), md5-keyed so
    // the sample is identical under retries, repartitioning, and resume.
    "weighted_sample" -> ((s, dir) => {
      text.Sampling.weightedSample(t(s, dir, "documents"), "doc_id",
          least(lit(1.0), length(col("text")) / 400.0))
        .select(col("doc_id"), col("lang"))
    }),

    // PII redaction (Dolma/ROOTS-style scrub): the synthetic corpus is
    // PII-free, so plant deterministic emails/IPs/phones from doc_id (mod
    // lanes exercise every presence combination incl. none), then scrub.
    // Counts are taken on the original text; all per-row codegen'd regex.
    "pii_redact" -> ((s, dir) => {
      val idS = col("doc_id").cast("string")
      val planted = t(s, dir, "documents").withColumn("pii_text", concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), idS, lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
            lit(".0."), ((col("doc_id") * 7) % 256).cast("string"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" call "), ((col("doc_id") % 800) + 100).cast("string"),
            lit("-555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit(""))))
      text.Redact.redact(planted, "pii_text")
        .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
          col("text_redacted"))
    }),

    // URL canonicalization: the corpus contract keys documents by url
    // (BASELINE.json input_hint); plant deterministically-messy urls (case,
    // www, default port, tracking params, fragments, empty paths, ccSLDs)
    // and derive the three web-scale identities: canonical url, host,
    // registrable domain. Pure codegen'd regexp/array expressions.
    "url_canonicalize" -> ((s, dir) => {
      text.Urls.urlKeys(plantedUrls(t(s, dir, "documents")))
        .select(col("doc_id"), col("url_canon"), col("host"), col("domain"))
    }),

    // Head-domain skew profile over the planted urls: docs + distinct hosts
    // + corpus share per registrable domain (what blocking salts against).
    "domain_skew" -> ((s, dir) => {
      text.Urls.domainStats(plantedUrls(t(s, dir, "documents")))
        .select(col("domain"), col("n_docs"), col("n_hosts"),
          round(col("share"), 6).as("share"))
    }),

    // Per-domain quota: cap each registrable domain at 2 docs, keeping the
    // highest-n_chars pages (tiebreak doc_id). Catalyst's WindowGroupLimit
    // makes the rank window map-side-bounded (see Sampling.domainQuota).
    "domain_quota" -> ((s, dir) => {
      text.Sampling.domainQuota(plantedUrls(t(s, dir, "documents")),
          "doc_id", col("n_chars"), k = 2)
        .select(col("domain"), col("quota_rank"), col("doc_id"), col("n_chars"))
    }),

    // Revisit dedup: keep the LATEST fetch per canonical url — the first
    // stage of a Common-Crawl pipeline (pages recur across crawl
    // snapshots). Revisits are planted as fragment-perturbed copies (same
    // canonical identity by construction) of every doc_id % 3 == 0 url;
    // warc_ts is a bijective mix of doc_id mod the prime 999983, so the
    // per-group winner is unique and the arg_max replays exactly in DuckDB.
    "revisit_latest" -> ((s, dir) => {
      val base = plantedUrls(t(s, dir, "documents"))
        .select(col("doc_id"), col("url"))
      val revisits = base.filter(col("doc_id") % 3 === 0).select(
        (col("doc_id") + 1000000).as("doc_id"),
        concat(col("url"), lit("#r2")).as("url"))
      val docs = base.unionByName(revisits).withColumn("warc_ts",
        timestamp_seconds(lit(1704067200L) + (col("doc_id") * 48271) % 999983))
      text.Urls.latestRevision(docs)
        .select(col("url_canon"), col("doc_id").as("keep_id"),
          col("warc_ts").cast("long").as("latest_ts"), col("n_revisions"))
    }),

    // GPT-3-style benchmark decontamination: docs sharing any normalized
    // 3-gram with the "eval set" (doc_id % 17 == 0) are dropped. n=3 keeps
    // the oracle replay exact on the short synthetic docs (standard is 13).
    "decontaminate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      dedup.Dedup.decontaminate(d, d.filter(col("doc_id") % 17 === 0),
          "doc_id", "text", n = 3)
        .select(col("doc_id"), col("lang"))
    }),

    // Exact-substring dedup (Lee et al. 2022 analog): maximal token spans
    // covered by 3-token windows repeated across >= 2 distinct docs. A
    // shared boilerplate suffix is planted on every doc_id % 4 == 0 doc so
    // long cross-doc spans exist deterministically; natural short repeats
    // in the synthetic vocabulary surface too and replay identically.
    "dup_spans" -> ((s, dir) => {
      val planted = t(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 4 === 0, concat(col("text"),
          lit(" all rights reserved contact the site webmaster for details")))
          .otherwise(col("text")))
      dedup.Dedup.repeatedSpans(planted, "doc_id", "text", k = 3)
        .select(col("id").as("doc_id"), col("span_start"), col("span_end"))
    }),

    // Incremental exact dedup: a synthetic crawl increment (re-crawls of
    // every doc_id % 3 == 0 page under fresh ids ∪ genuinely new revisions
    // of every doc_id % 7 == 2 page) deduped against the frozen documents
    // corpus. The Bloom pre-filter prunes the corpus scan; the exact
    // anti-join makes the output independent of fpp — which is what the
    // SQL oracle replays.
    "incremental_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val batch = d.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
        .unionByName(d.filter(col("doc_id") % 7 === 2)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat(col("text"), lit(" fresh revision")).as("text")))
      dedup.Dedup.incrementalExact(batch, d.select(col("text")),
          "doc_id", "text", expectedBatchRows = 20000L, fpp = 1e-3)
        .select(col("doc_id"))
    }),

    // RefinedWeb-style cross-doc boilerplate line removal. The synthetic
    // corpus is single-line, so the query constructs deterministic "lines"
    // (2-token chunks of the whitespace tokenization — small shared vocab
    // → real cross-doc duplicates) before applying the operator; real
    // corpora pass split(text, '\n') instead.
    "line_dedup" -> ((s, dir) => {
      val chunked = t(s, dir, "documents").select(
        col("doc_id"),
        expr("""transform(sequence(0, cast(ceil(size(split(text, ' ')) / 2.0) as int) - 1),
               |  i -> array_join(slice(split(text, ' '), i * 2 + 1, 2), ' '))""".stripMargin)
          .as("lines"))
      dedup.Dedup.lineDedup(chunked, "doc_id", "lines", minDocs = 5)
        .select(col("doc_id"),
          array_join(col("lines"), "\n").as("text_clean"), col("lines_removed"))
    }),

    "text_quality" -> ((s, dir) => {
      text.TextAnalysis.qualityScore(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens"),
          round(col("mean_token_len"), 4).as("mean_token_len"),
          round(col("alpha_ratio"), 4).as("alpha_ratio"),
          round(col("stopword_ratio"), 4).as("stopword_ratio"))
    }),

    // Gopher repetition rules (word-level subset): duplicate/top token and
    // word-2-gram fractions — pure per-row expressions, scan-speed filters.
    "text_repetition" -> ((s, dir) => {
      text.TextAnalysis.repetitionScores(t(s, dir, "documents"))
        .select(col("doc_id"), col("dup_token_frac"), col("top_token_frac"),
          col("dup_bigram_frac"), col("top_bigram_frac"))
    }),

    "text_langid" -> ((s, dir) => {
      text.TextAnalysis.langId(t(s, dir, "documents"))
        .select(col("doc_id"), col("lang_guess"), col("lang_hits"))
    }),

    "token_counts" -> ((s, dir) => {
      text.TextAnalysis.tokenCounts(t(s, dir, "documents"))
        .select(col("doc_id"), col("ws_tokens"),
          round(col("chars_per_ws_token"), 4).as("chars_per_ws_token"))
    }),

    "text_fingerprints" -> ((s, dir) => {
      text.TextAnalysis.fingerprints(t(s, dir, "documents"))
        .select(col("doc_id"), col("fp_raw"), col("fp_norm"))
    }),

    "t6_deterministic_sample" -> ((s, dir) => {
      // deterministic Bernoulli sampling (training-data pipeline): decision
      // is a pure function of (key, salt) — replay-identical under retries
      // and repartitioning, exactly replayable in any engine with md5
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val sampled = text.Sampling.deterministicSample(d, "doc_id", 0.25, "r3")
        .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
      d.groupBy(col("lang")).agg(count(lit(1)).as("n_total"))
        .join(sampled, Seq("lang"), "left")
        .select(col("lang"), col("n_total"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
    }),

    "split_leakage_safe" -> ((s, dir) => {
      // leakage-safe train/val/test: the whole group (here: source) lands
      // in ONE split — same-entity rows never straddle train/test
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"))
      text.Sampling.groupSplit(d, "source",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "r3")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_groups"))
    }),

    "multimodal_meta" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        octet_length(col("text")).as("byte_len"),
        md5(col("text").cast("binary")).as("payload_md5"))
    }),

    "mm_decode_frames" -> ((s, _) => {
      val media = multimodal.Multimodal.syntheticMedia(s, 200L)
      val meta = multimodal.Multimodal.decode(media)
      multimodal.Multimodal.sampleFrames(meta, everyMs = 30000L, maxFrames = 8).toDF()
        .select(col("media_id"), col("frame_idx"), col("offset_ms"))
    }),

    // -------------------------------------------------- similarity search
    "ann_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      ann.Ann.bruteForceTopK(e, e.filter(col("vec_id") < 3), 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cosine"), 4).as("cosine"))
    }),

    "embedding_cosine_pairs" -> ((s, dir) => {
      // The band condition `a < b ≤ a+3` planned as a BroadcastNestedLoopJoin
      // (non-equi ⇒ O(n²) comparisons, full embedding arrays broadcast —
      // guide §3: avoid accidental nested-loop joins). Exploding the three
      // offsets turns it into an exact equi-join on vec_id: identical pair
      // set (id_b = id_a + d, d ∈ {1,2,3} ⇔ id_a < id_b ≤ id_a + 3, one row
      // per existing neighbor), hash-joinable at any scale.
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("v"))
      val probes = e.select(col("vec_id").as("id_a"), col("v").as("v_a"),
          explode(sequence(lit(1), lit(3))).as("d"))
        .select(col("id_a"), col("v_a"), (col("id_a") + col("d")).as("id_b"))
      probes.join(e.select(col("vec_id").as("id_b"), col("v").as("v_b")), "id_b")
        .select(col("id_a"), col("id_b"),
          round(cosine_sim(col("v_a"), col("v_b")), 4).as("cosine"))
    }),

    "ann_lsh_topk" -> ((s, dir) => {
      // completeness gate: with the sparse-bucket top-up every vector is a
      // query and returns exactly k ranked neighbors (reference contract:
      // inmemory.py:294-296) — n_queries is independently DuckDB-checkable
      ann.Ann.lshTopK(t(s, dir, "embeddings"), 3,
          ann.Ann.LshConfig(bands = 16, bits = 6))
        .groupBy(col("query_id")).agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_queries"),
          (min(col("c")) === 3 && max(col("c")) === 3).as("k_complete"))
    }),

    "ann_ivf_topk" -> ((s, dir) => {
      // IVF (k-means coarse quantizer) scale path, same completeness gate
      // as ann_lsh_topk: every vector is a query with exactly k ranked
      // neighbors regardless of how the probed inverted lists populated
      ann.Ann.ivfTopK(t(s, dir, "embeddings"), 3,
          ann.Ann.IvfConfig(nlist = 32, nprobe = 3))
        .groupBy(col("query_id")).agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_queries"),
          (min(col("c")) === 3 && max(col("c")) === 3).as("k_complete"))
    }),

    // ------------------------------------------------------- dedup family
    "dedup_minhash" -> ((s, dir) => {
      // verifyJaccard = 1.0 ⇒ emitted pairs have EQUAL normalized token
      // sets, and equal sets always share every band key (identical
      // signatures) ⇒ the pair set is exactly DuckDB's token-set-equality
      // self-join — a bit-exact oracle for shingle→minhash→band→pair→verify
      numPair(dedup.Dedup.minhashNearDupPairs(docsWithClones(s, dir), "doc_id", "text",
        dedup.Dedup.MinHashConfig(verifyJaccard = 1.0, maxBlock = 4096)))
    }),

    "dedup_simhash" -> ((s, dir) => {
      // clone-pair recall gate: identical text ⇒ identical fingerprint ⇒
      // guaranteed same band keys ⇒ every planted clone pair MUST surface
      // at hamming 0 (banding radius 6 is property-tested in DedupSpec)
      numPair(dedup.Dedup.simhashNearDupPairs(docsWithClones(s, dir), "doc_id", "text"),
          col("hamming"))
        .filter(col("id_b") === col("id_a") + 1000000)
    }),

    "embedding_neardup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val dup = e.withColumn("vec_id", col("vec_id") + 1000000)
      numPair(dedup.Dedup.embeddingNearDupPairs(e.unionByName(dup), "vec_id", "embedding"),
          round(col("cosine"), 4).as("cosine"))
        .filter(col("id_b") === col("id_a") + 1000000)
    }),

    "er_clone_pairs" -> ((s, dir) => {
      // end-to-end north-rule pipeline (blocking → scoring → clustering) on
      // documents ∪ exact clones: every clone pair must land in one cluster
      // (identical features ⇒ blocked together, score 1.0 ≥ τ, transitive
      // closure keeps them together) — an end-to-end recall oracle
      val clusters = pipeline.ErPipeline.run(clonePages(s, dir))
      clusters.as("a").join(clusters.as("b"),
          col("a.cluster_id") === col("b.cluster_id") &&
          col("b.url").cast("bigint") === col("a.url").cast("bigint") + 1000000)
        .select(col("a.url").cast("bigint").as("id_a"),
          col("b.url").cast("bigint").as("id_b"))
    }),

    "er_incremental" -> ((s, dir) => {
      // batch-incremental ER recall gate (er_clone_pairs' shape through the
      // daily-operations path): old state = full ER over documents; the
      // arriving batch = exact clones (doc_id + 1e6). A clone's features
      // equal its source's (identical text; the batch is a full clone of
      // the corpus, so even recomputed DF-stops coincide), so every
      // (source, clone) pair blocks together, scores 1.0 and merges — the
      // incremental assignment must put each clone in its source's cluster.
      val docs = t(s, dir, "documents").select(
        col("doc_id").cast("string").as("url"),
        lit(java.sql.Timestamp.valueOf("2020-01-01 00:00:00")).as("warc_ts"),
        col("text").cast("binary").as("html"), col("text"), lit("en").as("lang"))
        .as[graft.schema.Page](org.apache.spark.sql.Encoders.product[graft.schema.Page])
      val batch = t(s, dir, "documents").select(
        (col("doc_id") + 1000000).cast("string").as("url"),
        lit(java.sql.Timestamp.valueOf("2020-01-01 00:00:00")).as("warc_ts"),
        col("text").cast("binary").as("html"), col("text"), lit("en").as("lang"))
        .as[graft.schema.Page](org.apache.spark.sql.Encoders.product[graft.schema.Page])
      val cfg = pipeline.ErPipeline.Config()
      val feats = (p: org.apache.spark.sql.Dataset[graft.schema.Page]) =>
        block.Blocking.features(p, cfg.blocking)
          .select(col("url"), col("mention"), col("sig"))
      val oldAssign = pipeline.ErPipeline.run(docs, cfg)
      val inc = pipeline.ErPipeline.incremental(feats(docs), oldAssign, feats(batch), cfg)
      inc.as("a").join(inc.as("b"),
          col("a.cluster_id") === col("b.cluster_id") &&
          col("b.url").cast("bigint") === col("a.url").cast("bigint") + 1000000)
        .select(col("a.url").cast("bigint").as("id_a"),
          col("b.url").cast("bigint").as("id_b"))
    }),

    "stream_assign" -> ((s, dir) => {
      // Online ER assignment recall gate (er_clone_pairs style, §2.10):
      // canonical clusters = exact-text groups (the offline dedup output IS
      // the canonical store), arriving pages = exact clones (doc_id + 1e6).
      // A clone's features under the store's frozen stop set equal its
      // text-group rep's (same text, same stops), so a
      // feature-identical cluster exists and scores jw = lev = jaccard =
      // 1.0 ≥ every gate — the argmax winner must score exactly 1.0 (ties
      // between normalize-equal text groups are fine: both are
      // feature-identical by construction). The audit aggregate (every
      // clone assigned, every assignment at score 1.0) is
      // DuckDB-predictable from the documents row count alone.
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val canonPages = d.select(col("doc_id").cast("string").as("url"), col("text"))
      val reps = canonPages.groupBy(col("text")).agg(min(col("url")).as("cluster_id"))
      val clusters = canonPages.join(reps, "text").select(col("url"), col("cluster_id"))
      val store = streaming.EntityAssign.buildCanonical(canonPages, clusters)
      val pages = d.select((col("doc_id") + 1000000).cast("string").as("url"), col("text"))
      streaming.EntityAssign.assign(pages, store)
        .filter(col("cluster_id").isNotNull) // novel assignments drop out
        .agg(count(lit(1)).as("n_assigned"),
          (min(round(col("score"), 9)) === 1.0).as("all_exact_score"))
    }),

    // ----------------------------------------------- transitive clustering
    "cc_components" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val edges = d.as("a").join(d.as("b"),
          col("b.doc_id") === col("a.doc_id") + 1 && col("a.lang") === col("b.lang"))
        .select(
          lpad(col("a.doc_id").cast("string"), 9, "0").as("url_a"),
          lpad(col("b.doc_id").cast("string"), 9, "0").as("url_b"))
      // (a, a+1) pairs are distinct with no self-loops by construction —
      // skip CC's defensive distinct exchange
      cluster.ConnectedComponents.run(edges, edgesCanonical = true)
        .select(col("url").cast("bigint").as("id"), col("cluster_id").cast("bigint").as("comp"))
    }),

    // A6 incremental: yesterday's assignment + a delta edge batch must equal
    // a from-scratch run over the union graph, while the star loop touches
    // only delta-affected components (the daily-Common-Crawl-increment
    // operation at 10^12 docs). Base = consecutive same-lang pairs with
    // NEITHER endpoint divisible by 7; delta = the %7-boundary pairs that
    // "arrived late" plus skip-edges (doc_id, doc_id+2) at doc_id%13==0
    // that bridge previously separate chains.
    "cc_incremental" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      def lp(c: org.apache.spark.sql.Column) = lpad(c.cast("string"), 9, "0")
      val consec = d.as("a").join(d.as("b"),
          col("b.doc_id") === col("a.doc_id") + 1 && col("a.lang") === col("b.lang"))
        .select(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"))
      val skip = d.as("a").join(d.as("b"),
          col("b.doc_id") === col("a.doc_id") + 2 && col("a.lang") === col("b.lang")
            && col("a.doc_id") % 13 === 0)
        .select(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"))
      val base = consec.filter(col("ia") % 7 =!= 0 && col("ib") % 7 =!= 0)
        .select(lp(col("ia")).as("url_a"), lp(col("ib")).as("url_b"))
      val delta = consec.filter(col("ia") % 7 === 0 || col("ib") % 7 === 0)
        .unionByName(skip)
        .select(lp(col("ia")).as("url_a"), lp(col("ib")).as("url_b"))
      val assignment = cluster.ConnectedComponents.run(base)
      cluster.ConnectedComponents.incremental(assignment, delta)
        .select(col("url").cast("bigint").as("id"), col("cluster_id").cast("bigint").as("comp"))
    }))

  /** Full-strength near-dup stress passes over [[docsWithClones]], timed by
    * `graft.Bench` after the headline queries. Their outputs are
    * data-dependent pair sets with no DuckDB replica, so they stay out of
    * the oracle-gated [[queries]]. */
  def stress: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_minhash_full" -> ((s, dir) =>
      dedup.Dedup.minhashNearDupGroups(docsWithClones(s, dir), "doc_id", "text")),
    "dedup_simhash_full" -> ((s, dir) =>
      dedup.Dedup.simhashNearDupPairs(docsWithClones(s, dir), "doc_id", "text")))

  /** DuckDB-equivalent SQL per oracle-checked query (column names match). */
  /**
   * Shared DuckDB recursive replay of `SplitSentences` (P2): leftmost
   * `[.!?] +[A-Z]` candidate (RE2 non-greedy; no lookaround in DuckDB, so
   * the uppercase char is captured and re-prefixed), rejected when the token
   * ending at the punctuation is a known abbreviation or an initials token
   * `([a-z]\.)+`; emitted sentences carry their trailing spaces (concat ==
   * text). The abbreviation list MUST stay identical to
   * `SentenceKernels.ABBREV`. Ends with `emitted(doc_id, sentence, pos)`.
   */
  private val p2SentenceScanCte: String =
    """WITH RECURSIVE w(doc_id, rest, pending, k, emit, sentence) AS (
      |  SELECT doc_id, text, '', -1, false, '' FROM documents
      |  UNION ALL
      |  SELECT doc_id,
      |    CASE WHEN g1 = '' THEN ''
      |         ELSE substring(rest, length(g1) + length(g2) + 1) END,
      |    CASE WHEN g1 = '' THEN ''
      |         WHEN is_abbrev THEN pending || g1 || g2 ELSE '' END,
      |    CASE WHEN g1 <> '' AND NOT is_abbrev THEN k + 1 ELSE k END,
      |    CASE WHEN g1 = '' THEN rest <> '' OR pending <> ''
      |         ELSE NOT is_abbrev END,
      |    CASE WHEN g1 = '' THEN pending || rest
      |         WHEN is_abbrev THEN '' ELSE pending || g1 || g2 END
      |  FROM (
      |    SELECT doc_id, rest, pending, k, g1, g2,
      |      (ltok IN
      |        ('mr.','mrs.','ms.','dr.','prof.','sr.','jr.','st.','gen.',
      |         'gov.','sen.','rep.','rev.','hon.','capt.','lt.','sgt.','col.',
      |         'inc.','corp.','ltd.','co.','dept.','univ.','vs.','etc.',
      |         'e.g.','i.e.','no.','fig.','al.','approx.','vol.','pp.',
      |         'ed.','eds.','cf.','ca.','est.',
      |         'mt.','ave.','blvd.','jan.','feb.','mar.','apr.','aug.',
      |         'sept.','oct.','nov.','dec.')
      |       OR regexp_matches(ltok, '^([a-z]\.)+$')) AS is_abbrev
      |    FROM (
      |      SELECT doc_id, rest, pending, k,
      |        regexp_extract(rest, '(?s)^(.*?[.!?])( +)([A-Z])', 1) AS g1,
      |        regexp_extract(rest, '(?s)^(.*?[.!?])( +)([A-Z])', 2) AS g2,
      |        lower(regexp_extract(regexp_extract(rest, '(?s)^(.*?[.!?])( +)([A-Z])', 1),
      |          '([^ ]*)$', 1)) AS ltok
      |      FROM w WHERE rest <> '') s0) s),
      |emitted AS (
      |  SELECT doc_id, sentence,
      |    CASE WHEN rest = '' THEN k + 1 ELSE k END AS pos
      |  FROM w WHERE emit)""".stripMargin

  /** Shared DuckDB replay of `ctxFixture` (J6/J7 inputs). */
  private val ctxFixtureSql: String =
    """ctx AS (
      |  SELECT q.doc_id AS qid, q.doc_id + r.r AS cand_id, r.r AS rnk,
      |    CASE WHEN d.lang = q.lang THEN 'pos'
      |         WHEN d.n_chars % 2 = 0 THEN 'neg' ELSE 'hneg' END AS role,
      |    md5(substring(d.text, 1, 24)) AS pkey
      |  FROM documents q
      |  CROSS JOIN (SELECT unnest(range(1, 9)) AS r) r
      |  JOIN documents d ON d.doc_id = q.doc_id + r.r)""".stripMargin

  /** Shared DuckDB replay of `TrainingJoins.assembleSamples` (J6). */
  private val j6SamplesSql: String =
    s"""WITH $ctxFixtureSql,
      |dedup AS (SELECT qid, cand_id, role,
      |    row_number() OVER (PARTITION BY qid, role, pkey ORDER BY cand_id) AS dup_rn
      |  FROM ctx),
      |capped AS (SELECT qid, cand_id, role,
      |    row_number() OVER (PARTITION BY qid, role ORDER BY cand_id) AS cap_rn
      |  FROM dedup WHERE dup_rn = 1),
      |samples AS (SELECT qid, cand_id AS passage_id, role,
      |    (row_number() OVER (PARTITION BY qid ORDER BY
      |       CASE role WHEN 'pos' THEN 0 WHEN 'neg' THEN 1 ELSE 2 END, cand_id) - 1)::BIGINT AS pos,
      |    (CASE WHEN role = 'pos' THEN 1 ELSE 0 END)::BIGINT AS label
      |  FROM capped WHERE cap_rn <= 2)""".stripMargin

  /** Mirrors [[plantedUrls]] — keep the two in lockstep. */
  private val URL_PLANT_CTE =
    """WITH planted AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END) || '://'
      |    || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' WHEN doc_id % 3 = 1 THEN 'blog.' ELSE '' END)
      |    || 'Site' || (doc_id % 50) || '.'
      |    || (CASE WHEN doc_id % 4 = 0 THEN 'com' WHEN doc_id % 4 = 1 THEN 'co.uk' WHEN doc_id % 4 = 2 THEN 'org' ELSE 'net' END)
      |    || (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END)
      |    || (CASE WHEN doc_id % 7 = 0 THEN '' ELSE '/p/' || doc_id END)
      |    || (CASE WHEN doc_id % 6 = 0 THEN '?utm_source=feed' WHEN doc_id % 6 = 1 THEN '?id=' || (doc_id % 9) || '&utm_medium=a' WHEN doc_id % 6 = 2 THEN '?utm_a=1&utm_b=2' ELSE '' END)
      |    || (CASE WHEN doc_id % 11 = 0 THEN '#sec' ELSE '' END) AS url
      |  FROM documents)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "j6_positive_join" ->
      s"""$j6SamplesSql
        |SELECT qid, passage_id, role, pos, label FROM samples""".stripMargin,

    "j6_inbatch_labels" ->
      s"""$j6SamplesSql,
        |batched AS (SELECT qid, passage_id, label, qid // 50 AS batch_id FROM samples),
        |pool AS (SELECT batch_id, count(DISTINCT passage_id) AS pool_size
        |  FROM batched GROUP BY 1),
        |perq AS (SELECT batch_id, qid, sum(label)::BIGINT AS n_pos
        |  FROM batched GROUP BY 1, 2)
        |SELECT p.batch_id, p.qid, pool.pool_size, p.n_pos
        |FROM perq p JOIN pool USING (batch_id)""".stripMargin,

    "j7_hard_negatives" ->
      s"""WITH $ctxFixtureSql,
        |ranked AS (SELECT qid, cand_id, rnk AS orig_rank,
        |    (row_number() OVER (PARTITION BY qid ORDER BY rnk))::BIGINT AS hn_rank
        |  FROM ctx WHERE role <> 'pos')
        |SELECT qid, hn_rank, cand_id, orig_rank FROM ranked WHERE hn_rank <= 3""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS n
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1997-12-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q3_top_orders" ->
      """SELECT o_orderkey, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""".stripMargin,

    "j3_broadcast_dim" ->
      """SELECT p_brand, count(*) AS n, round(sum(l_quantity), 2) AS qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand""".stripMargin,

    "j_semi_anti" ->
      """SELECT c_nationkey,
        |  coalesce(sum(CASE WHEN has_order THEN 1 ELSE 0 END), 0)::BIGINT AS n_with,
        |  coalesce(sum(CASE WHEN has_order THEN 0 ELSE 1 END), 0)::BIGINT AS n_without
        |FROM (SELECT c_nationkey, EXISTS(SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS has_order FROM customer)
        |GROUP BY c_nationkey""".stripMargin,

    "t1_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, rank FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
        |  FROM orders) WHERE rank <= 3""".stripMargin,

    "w3_sorted_neighborhood" ->
      """SELECT lang, doc_id, next_doc_id FROM (
        |  SELECT lang, doc_id,
        |    lead(doc_id, 1) OVER (PARTITION BY lang ORDER BY n_chars ASC, doc_id ASC) AS next_doc_id
        |  FROM documents) WHERE next_doc_id IS NOT NULL""".stripMargin,

    "u_set_ops" ->
      """SELECT doc_id FROM documents WHERE lang = 'en'
        |EXCEPT SELECT doc_id FROM documents WHERE source = 'src0'""".stripMargin,

    "f2_length_filter" ->
      """SELECT lang, count(*) AS n, min(n_chars) AS min_c, max(n_chars) AS max_c
        |FROM documents WHERE n_chars BETWEEN 100 AND 400 GROUP BY lang""".stripMargin,

    "events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
        |  round(sum(value), 2) AS total
        |FROM events GROUP BY 1, 2""".stripMargin,

    "stream_windowed" ->
      """SELECT to_timestamp(floor(epoch(ts) / 300) * 300)::TIMESTAMP AS win_start, event_type,
        |  count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "a2_argmax_dedup" ->
      """SELECT user_id, event_id FROM (
        |  SELECT user_id, event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,

    "p2_sentence_split" ->
      // recursive replay of the abbreviation-aware boundary scan (shared
      // CTE prefix, see p2SentenceScanCte)
      (p2SentenceScanCte + "\nSELECT doc_id, pos, sentence FROM emitted"),

    "p2b_sentence_windows" ->
      // sentence-mode windows: same boundary replay; each window's char
      // offset = running sum of prior sentence lengths (sentences partition
      // the text, so offsets are exact substring positions)
      (p2SentenceScanCte + """
        |SELECT doc_id, pos::INT AS window_id,
        |  coalesce(sum(length(sentence)) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::INT AS char_offset,
        |  sentence AS window_text
        |FROM emitted""".stripMargin),

    "json_extract" ->
      """SELECT event_id, json_extract(props, '$.k')::BIGINT AS k FROM events""",

    "p3_window_split" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |    len(string_split(text, ' ')) AS n FROM documents),
        |starts AS (
        |  SELECT doc_id, n, unnest(range(0, greatest(n - 32, 0) + 1, 16)) AS off FROM d
        |  UNION SELECT doc_id, n, greatest(n - 32, 0) AS off FROM d)
        |SELECT s.doc_id, s.off,
        |  array_to_string(d.toks[s.off + 1 : s.off + 32], ' ') AS win
        |FROM starts s JOIN d ON d.doc_id = s.doc_id""".stripMargin,

    "a1_window_merge" ->
      // doc-level truth computed directly (no windows): every 't…' token is
      // one span; prob = 1 + offset of the FIRST window containing it under
      // the same windowStarts formula the p3 oracle replicates
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |    len(string_split(text, ' ')) AS n FROM documents),
        |tok AS (SELECT doc_id, n, unnest(toks) AS token,
        |    generate_subscripts(toks, 1) - 1 AS p FROM d),
        |starts AS (
        |  SELECT doc_id, unnest(range(0, greatest(n - 32, 0) + 1, 16)) AS off FROM d
        |  UNION SELECT doc_id, greatest(n - 32, 0) AS off FROM d)
        |SELECT t.doc_id, t.p AS start, t.p + 1 AS "end", t.token AS label,
        |  (SELECT min(st.off) FROM starts st
        |    WHERE st.doc_id = t.doc_id AND st.off <= t.p AND t.p < st.off + 32) + 1.0 AS prob
        |FROM tok t WHERE t.token LIKE 't%'""".stripMargin,

    "p1_tokenize_offsets" ->
      // whitespace-walk replay of the offset-preserving tokenizer
      """WITH RECURSIVE w(doc_id, rest, consumed, i, token, idx) AS (
        |  SELECT doc_id, text, 0, -1, '', 0 FROM documents
        |  UNION ALL
        |  SELECT doc_id,
        |    substring(rest, length(regexp_extract(rest, '^(\s*)', 1)) + length(regexp_extract(rest, '^\s*(\S+)', 1)) + 1),
        |    consumed + length(regexp_extract(rest, '^(\s*)', 1)) + length(regexp_extract(rest, '^\s*(\S+)', 1)),
        |    i + 1,
        |    regexp_extract(rest, '^\s*(\S+)', 1),
        |    consumed + length(regexp_extract(rest, '^(\s*)', 1))
        |  FROM w WHERE regexp_matches(rest, '\S'))
        |SELECT doc_id, i, token, idx, idx + length(token) AS idx_end
        |FROM w WHERE i >= 0""".stripMargin,

    "p6_char_to_token" ->
      // same whitespace walk + the snap rule (equivalent to exact-then-snap
      // under whitespace tokenization: token char ranges never touch)
      """WITH RECURSIVE w(doc_id, rest, consumed, i, token, idx) AS (
        |  SELECT doc_id, text, 0, -1, '', 0 FROM documents
        |  UNION ALL
        |  SELECT doc_id,
        |    substring(rest, length(regexp_extract(rest, '^(\s*)', 1)) + length(regexp_extract(rest, '^\s*(\S+)', 1)) + 1),
        |    consumed + length(regexp_extract(rest, '^(\s*)', 1)) + length(regexp_extract(rest, '^\s*(\S+)', 1)),
        |    i + 1,
        |    regexp_extract(rest, '^\s*(\S+)', 1),
        |    consumed + length(regexp_extract(rest, '^(\s*)', 1))
        |  FROM w WHERE regexp_matches(rest, '\S')),
        |toks AS (SELECT doc_id, i, idx, idx + length(token) AS idx_end FROM w WHERE i >= 0),
        |sp AS (SELECT doc_id, least(10, n_chars - 1) AS s_char, least(60, n_chars) AS e_char
        |  FROM documents)
        |SELECT sp.doc_id, sp.s_char, sp.e_char,
        |  (SELECT min(t.i) FROM toks t WHERE t.doc_id = sp.doc_id
        |     AND t.idx <= sp.s_char AND sp.s_char <= t.idx_end) AS ts,
        |  (SELECT min(t.i) FROM toks t WHERE t.doc_id = sp.doc_id
        |     AND t.idx <= sp.e_char AND sp.e_char <= t.idx_end) + 1 AS te,
        |  (SELECT min(t2.idx) FROM toks t2 WHERE t2.doc_id = sp.doc_id AND t2.i =
        |    (SELECT min(t.i) FROM toks t WHERE t.doc_id = sp.doc_id
        |       AND t.idx <= sp.s_char AND sp.s_char <= t.idx_end)) AS snap_start,
        |  (SELECT min(t2.idx_end) FROM toks t2 WHERE t2.doc_id = sp.doc_id AND t2.i =
        |    (SELECT min(t.i) FROM toks t WHERE t.doc_id = sp.doc_id
        |       AND t.idx <= sp.e_char AND sp.e_char <= t.idx_end)) AS snap_end
        |FROM sp""".stripMargin,

    "w2_budget_batches" ->
      // greedy replay of the same (tokens, id)-ordered budget packing
      """WITH RECURSIVE d AS (SELECT lang, doc_id,
        |    len(string_split(text, ' ')) AS n,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY len(string_split(text, ' ')), doc_id) AS rn
        |  FROM documents),
        |b(lang, rn, doc_id, n, batch, acc, pos) AS (
        |  SELECT lang, rn, doc_id, n, 0, n, 0 FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.lang, d.rn, d.doc_id, d.n,
        |    CASE WHEN b.acc + d.n > 2000 OR b.pos + 1 >= 128 THEN b.batch + 1 ELSE b.batch END,
        |    CASE WHEN b.acc + d.n > 2000 OR b.pos + 1 >= 128 THEN d.n ELSE b.acc + d.n END,
        |    CASE WHEN b.acc + d.n > 2000 OR b.pos + 1 >= 128 THEN 0 ELSE b.pos + 1 END
        |  FROM b JOIN d ON d.lang = b.lang AND d.rn = b.rn + 1)
        |SELECT lang AS grp, doc_id AS id, n AS n_tokens, batch, pos AS batch_pos
        |FROM b""".stripMargin,

    "j2_candidate_lists" ->
      """WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
        |pairs AS (SELECT q.doc_id AS qid, c.doc_id AS cid,
        |    abs(q.n_chars - c.n_chars) AS dist
        |  FROM d q JOIN d c ON q.lang = c.lang AND q.doc_id <> c.doc_id),
        |ranked AS (SELECT qid, cid,
        |    row_number() OVER (PARTITION BY qid ORDER BY dist ASC, cid ASC) AS rank
        |  FROM pairs),
        |gold AS (SELECT doc_id AS qid,
        |    CASE WHEN prev_id IS NULL THEN next_id
        |         WHEN next_id IS NULL THEN prev_id
        |         WHEN doc_id - prev_id <= next_id - doc_id THEN prev_id
        |         ELSE next_id END AS gold
        |  FROM (SELECT doc_id,
        |      lag(doc_id) OVER (PARTITION BY lang ORDER BY doc_id) AS prev_id,
        |      lead(doc_id) OVER (PARTITION BY lang ORDER BY doc_id) AS next_id
        |    FROM d)
        |  WHERE prev_id IS NOT NULL OR next_id IS NOT NULL),
        |gr AS (SELECT g.qid, coalesce(r.rank, 0) AS gold_rank
        |  FROM gold g LEFT JOIN ranked r ON r.qid = g.qid AND r.cid = g.gold AND r.rank <= 10)
        |SELECT count(*) AS n_queries,
        |  round(avg(CASE WHEN gold_rank = 1 THEN 1 ELSE 0 END), 4) AS recall_at_1,
        |  round(avg(CASE WHEN gold_rank BETWEEN 1 AND 5 THEN 1 ELSE 0 END), 4) AS recall_at_5,
        |  round(avg(CASE WHEN gold_rank BETWEEN 1 AND 10 THEN 1 ELSE 0 END), 4) AS recall_at_10
        |FROM gr""".stripMargin,

    "a3_micro_prf" ->
      """WITH e AS (SELECT event_type = 'click' AS pred, value > 100.0 AS gold FROM events),
        |c AS (SELECT
        |  sum(CASE WHEN pred AND gold THEN 1 ELSE 0 END) AS tp,
        |  sum(CASE WHEN pred AND NOT gold THEN 1 ELSE 0 END) AS fp,
        |  sum(CASE WHEN NOT pred AND gold THEN 1 ELSE 0 END) AS fn FROM e)
        |SELECT tp::BIGINT AS tp, fp::BIGINT AS fp, fn::BIGINT AS fn,
        |  round(tp * 1.0 / greatest(tp + fp, 1), 4) AS precision,
        |  round(tp * 1.0 / greatest(tp + fn, 1), 4) AS recall FROM c""".stripMargin,

    "a4_recall_at_k" ->
      """WITH c AS (SELECT lang,
        |    lead(lang, 1) OVER (ORDER BY doc_id) AS l1,
        |    lead(lang, 2) OVER (ORDER BY doc_id) AS l2,
        |    lead(lang, 3) OVER (ORDER BY doc_id) AS l3 FROM documents)
        |SELECT round(avg(CASE WHEN lang IN (l1, l2, l3) THEN 1 ELSE 0 END), 4) AS recall_at_3
        |FROM c WHERE l1 IS NOT NULL AND l2 IS NOT NULL AND l3 IS NOT NULL""".stripMargin,

    "p5_char_windows" ->
      """SELECT doc_id, off, substring(text, off + 1, 128) AS win
        |FROM documents JOIN (SELECT unnest(range(0, 65536, 64)) AS off) s
        |  ON off <= greatest(n_chars - 64, 0)""".stripMargin,

    "j8_pair_score" ->
      """WITH d AS (SELECT doc_id, substring(text, 1, 40) AS frag FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(jaro_winkler_similarity(a.frag, b.frag), 4) AS jw,
        |  levenshtein(a.frag, b.frag) AS lev
        |FROM d a JOIN d b ON b.doc_id = a.doc_id + 1""".stripMargin,

    "f6_dedup_exact" ->
      """SELECT md5(text) AS content_md5, min(doc_id) AS rep_id, count(*) AS n_dups
        |FROM documents GROUP BY 1""".stripMargin,

    "ngram_jaccard" ->
      """WITH d AS (SELECT DISTINCT doc_id,
        |    unnest(string_split(trim(regexp_replace(lower(strip_accents(text)), '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
        |  FROM documents),
        |cnt AS (SELECT doc_id, count(*) AS n FROM d GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |  FROM d a JOIN d b ON a.w = b.w AND b.doc_id = a.doc_id + 1 GROUP BY 1, 2)
        |SELECT id_a, id_b, round(i * 1.0 / (ca.n + cb.n - i), 4) AS jaccard
        |FROM inter JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b""".stripMargin,

    "weighted_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(concat('0x', substr(md5(doc_id::VARCHAR || 'graft-weighted'), 1, 8)) AS BIGINT)
        |      < least(1.0, len(text) / 400.0) * 4294967296.0""".stripMargin,

    "url_canonicalize" ->
      (URL_PLANT_CTE + // NOTE: stripMargin binds to the literal only — the
                       // CTE is pre-stripped and contains literal `||`
      """, parts AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    regexp_replace(regexp_replace(lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), '^[^/@]*@', ''), ':(80|443)$', '') AS hp,
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS pth,
        |    regexp_replace(regexp_replace(regexp_extract(url, '^[^#?]*\?([^#]*)', 1), '(^|&)(utm_[a-z0-9]+|fbclid|gclid|msclkid|ref)=[^&]*', '', 'g'), '^&', '') AS cq
        |  FROM planted),
        |keys AS (
        |  SELECT doc_id,
        |    scheme || '://' || regexp_replace(hp, '^www\.', '')
        |      || (CASE WHEN pth = '' THEN '/' ELSE pth END)
        |      || (CASE WHEN cq = '' THEN '' ELSE '?' || cq END) AS url_canon,
        |    regexp_replace(hp, ':\d+$', '') AS host
        |  FROM parts),
        |labs AS (SELECT *, str_split(host, '.') AS l,
        |    CASE WHEN len(str_split(host, '.')) >= 3
        |          AND str_split(host, '.')[-2] IN ('co','com','net','org','gov','ac','edu')
        |          AND length(str_split(host, '.')[-1]) = 2 THEN 3 ELSE 2 END AS k
        |  FROM keys)
        |SELECT doc_id, url_canon, host,
        |  CASE WHEN len(l) <= k THEN host ELSE array_to_string(l[len(l)-k+1:], '.') END AS domain
        |FROM labs""".stripMargin),

    "domain_skew" ->
      (URL_PLANT_CTE +
      """, keys AS (
        |  SELECT regexp_replace(regexp_replace(lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), '^[^/@]*@', ''), ':\d+$', '') AS host
        |  FROM planted),
        |labs AS (SELECT host, str_split(host, '.') AS l,
        |    CASE WHEN len(str_split(host, '.')) >= 3
        |          AND str_split(host, '.')[-2] IN ('co','com','net','org','gov','ac','edu')
        |          AND length(str_split(host, '.')[-1]) = 2 THEN 3 ELSE 2 END AS k
        |  FROM keys),
        |dom AS (SELECT CASE WHEN len(l) <= k THEN host ELSE array_to_string(l[len(l)-k+1:], '.') END AS domain, host FROM labs),
        |agg AS (SELECT domain, count(*) AS n_docs, count(DISTINCT host) AS n_hosts FROM dom GROUP BY domain)
        |SELECT domain, n_docs, n_hosts,
        |  round(n_docs * 1.0 / (SELECT sum(n_docs) FROM agg), 6) AS share
        |FROM agg""".stripMargin),

    "domain_quota" ->
      (URL_PLANT_CTE +
      """, keys AS (
        |  SELECT doc_id, regexp_replace(regexp_replace(lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), '^[^/@]*@', ''), ':\d+$', '') AS host
        |  FROM planted),
        |labs AS (SELECT doc_id, host, str_split(host, '.') AS l,
        |    CASE WHEN len(str_split(host, '.')) >= 3
        |          AND str_split(host, '.')[-2] IN ('co','com','net','org','gov','ac','edu')
        |          AND length(str_split(host, '.')[-1]) = 2 THEN 3 ELSE 2 END AS k
        |  FROM keys),
        |dom AS (SELECT doc_id,
        |    CASE WHEN len(l) <= k THEN host ELSE array_to_string(l[len(l)-k+1:], '.') END AS domain
        |  FROM labs),
        |ranked AS (
        |  SELECT d.domain, dd.doc_id, dd.n_chars,
        |    row_number() OVER (PARTITION BY d.domain ORDER BY dd.n_chars DESC, dd.doc_id ASC) AS quota_rank
        |  FROM dom d JOIN documents dd USING (doc_id))
        |SELECT domain, quota_rank, doc_id, n_chars FROM ranked
        |WHERE quota_rank <= 2""".stripMargin),

    "revisit_latest" ->
      (URL_PLANT_CTE +
      """, all_rows AS (
        |  SELECT doc_id, url FROM planted
        |  UNION ALL
        |  SELECT doc_id + 1000000, url || '#r2' FROM planted WHERE doc_id % 3 = 0),
        |parts AS (
        |  SELECT doc_id, 1704067200 + (doc_id * 48271) % 999983 AS ts,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    regexp_replace(regexp_replace(lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), '^[^/@]*@', ''), ':(80|443)$', '') AS hp,
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS pth,
        |    regexp_replace(regexp_replace(regexp_extract(url, '^[^#?]*\?([^#]*)', 1), '(^|&)(utm_[a-z0-9]+|fbclid|gclid|msclkid|ref)=[^&]*', '', 'g'), '^&', '') AS cq
        |  FROM all_rows),
        |canon AS (
        |  SELECT doc_id, ts,
        |    scheme || '://' || regexp_replace(hp, '^www\.', '')
        |      || (CASE WHEN pth = '' THEN '/' ELSE pth END)
        |      || (CASE WHEN cq = '' THEN '' ELSE '?' || cq END) AS url_canon
        |  FROM parts)
        |SELECT url_canon, arg_max(doc_id, ts) AS keep_id,
        |  max(ts) AS latest_ts, count(*) AS n_revisions
        |FROM canon GROUP BY url_canon""".stripMargin),

    "pii_redact" ->
      """WITH planted AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END
        |    || CASE WHEN doc_id % 4 = 0 THEN ' from 10.' || (doc_id % 256) || '.0.' || ((doc_id * 7) % 256) ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN ' call ' || ((doc_id % 800) + 100) || '-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END
        |    AS t FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
        |  len(regexp_extract_all(t, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS text_redacted
        |FROM planted""".stripMargin,

    // decontaminate: strict 3-grams only (every doc has ≥10 normalized
    // tokens, so the kernel's short-doc truncation branch never fires).
    "decontaminate" ->
      """WITH norm AS (SELECT doc_id, lang,
        |    string_split(trim(regexp_replace(lower(strip_accents(text)), '[^a-z0-9]+', ' ', 'g')), ' ') AS ts
        |  FROM documents),
        |toks AS (SELECT doc_id, unnest(ts) AS w, unnest(generate_series(1, len(ts))) AS p FROM norm),
        |grams AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS g
        |  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.p = a.p + 1
        |              JOIN toks c ON c.doc_id = a.doc_id AND c.p = a.p + 2),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 17 = 0),
        |contaminated AS (SELECT DISTINCT doc_id FROM grams WHERE g IN (SELECT g FROM bench))
        |SELECT d.doc_id, d.lang FROM documents d
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM contaminated)""".stripMargin,

    "incremental_dedup" ->
      """WITH batch AS (
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id, text || ' fresh revision' AS text
        |  FROM documents WHERE doc_id % 7 = 2)
        |SELECT b.doc_id FROM batch b
        |WHERE NOT EXISTS (SELECT 1 FROM documents c WHERE c.text = b.text)""".stripMargin,

    "dup_spans" ->
      """WITH planted AS (SELECT doc_id,
        |    text || CASE WHEN doc_id % 4 = 0 THEN ' all rights reserved contact the site webmaster for details' ELSE '' END AS text
        |  FROM documents),
        |norm AS (SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(strip_accents(text)), '[^a-z0-9]+', ' ', 'g')), ' ') AS ts
        |  FROM planted),
        |toks AS (SELECT doc_id, unnest(ts) AS w, unnest(generate_series(1, len(ts))) AS p FROM norm),
        |grams AS (SELECT a.doc_id, a.p - 1 AS pos, a.w || ' ' || b.w || ' ' || c.w AS g
        |  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.p = a.p + 1
        |              JOIN toks c ON c.doc_id = a.doc_id AND c.p = a.p + 2),
        |rep AS (SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
        |marked AS (SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM rep)),
        |isl AS (SELECT doc_id, pos,
        |    CASE WHEN pos > coalesce(max(pos + 3) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS st
        |  FROM marked),
        |grp AS (SELECT doc_id, pos, sum(st) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM isl)
        |SELECT doc_id, min(pos)::BIGINT AS span_start, (max(pos) + 3)::BIGINT AS span_end
        |FROM grp GROUP BY doc_id, island""".stripMargin,

    // line_dedup: same deterministic 2-token chunking, then drop every
    // chunk that occurs in >= 5 distinct docs; kept chunks rejoin in order.
    "line_dedup" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
        |    unnest(generate_series(1, len(string_split(text, ' ')))) AS p FROM documents),
        |lines AS (SELECT doc_id, (p - 1) // 2 AS lp,
        |    string_agg(w, ' ' ORDER BY p) AS line FROM toks GROUP BY doc_id, (p - 1) // 2),
        |freq AS (SELECT line FROM lines GROUP BY line HAVING count(DISTINCT doc_id) >= 5),
        |flagged AS (SELECT doc_id, lp, line,
        |    line IN (SELECT line FROM freq) AS boiler FROM lines)
        |SELECT doc_id,
        |  coalesce(string_agg(CASE WHEN NOT boiler THEN line END, chr(10) ORDER BY lp), '') AS text_clean,
        |  CAST(coalesce(sum(CASE WHEN boiler THEN 1 ELSE 0 END), 0) AS BIGINT) AS lines_removed
        |FROM flagged GROUP BY doc_id""".stripMargin,

    "text_repetition" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w,
        |    unnest(generate_series(1, len(string_split(lower(text), ' ')))) AS p FROM documents),
        |wc AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY doc_id, w),
        |tstat AS (SELECT doc_id, sum(c) AS n, count(*) AS d, max(c) AS m FROM wc GROUP BY doc_id),
        |bg AS (SELECT a.doc_id, a.w || ' ' || b.w AS g
        |  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.p = a.p + 1),
        |gc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
        |gstat AS (SELECT doc_id, sum(c) AS n, count(*) AS d, max(c) AS m FROM gc GROUP BY doc_id)
        |SELECT t.doc_id,
        |  1.0 - t.d / t.n AS dup_token_frac,
        |  t.m / t.n AS top_token_frac,
        |  coalesce(1.0 - g.d / g.n, 0.0) AS dup_bigram_frac,
        |  coalesce(g.m / g.n, 0.0) AS top_bigram_frac
        |FROM tstat t LEFT JOIN gstat g ON g.doc_id = t.doc_id""".stripMargin,

    "text_quality" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents),
        |st AS (SELECT doc_id,
        |  sum(CASE WHEN w IN ('the','a','of','and','in','to','is','was','for','on','as','with') THEN 1 ELSE 0 END) AS stop,
        |  count(*) AS n_tokens FROM toks GROUP BY doc_id)
        |SELECT d.doc_id, st.n_tokens,
        |  round((length(d.text) - (st.n_tokens - 1)) * 1.0 / st.n_tokens, 4) AS mean_token_len,
        |  round(length(regexp_replace(d.text, '[^a-zA-Z]', '', 'g')) * 1.0 / length(d.text), 4) AS alpha_ratio,
        |  round(st.stop * 1.0 / st.n_tokens, 4) AS stopword_ratio
        |FROM documents d JOIN st ON d.doc_id = st.doc_id""".stripMargin,

    "text_langid" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents),
        |h AS (SELECT doc_id,
        |  sum(CASE WHEN w IN ('the','a','of','and','in','to','is','was','for','on','as','with') THEN 1 ELSE 0 END) AS en,
        |  sum(CASE WHEN w IN ('der','die','das','und','ist','von','mit','für','auf','ein','eine','nicht') THEN 1 ELSE 0 END) AS de,
        |  sum(CASE WHEN w IN ('el','la','los','las','de','y','en','es','un','una','por','con') THEN 1 ELSE 0 END) AS es,
        |  sum(CASE WHEN w IN ('le','la','les','de','et','en','est','un','une','pour','dans','que') THEN 1 ELSE 0 END) AS fr
        |  FROM toks GROUP BY doc_id)
        |SELECT doc_id,
        |  CASE WHEN greatest(en, de, es, fr) = 0 THEN 'und'
        |       WHEN fr = greatest(en, de, es, fr) THEN 'fr'
        |       WHEN es = greatest(en, de, es, fr) THEN 'es'
        |       WHEN en = greatest(en, de, es, fr) THEN 'en'
        |       ELSE 'de' END AS lang_guess,
        |  greatest(en, de, es, fr)::BIGINT AS lang_hits
        |FROM h""".stripMargin,

    "token_counts" ->
      """SELECT doc_id, len(string_split_regex(text, '\s+')) AS ws_tokens,
        |  round(length(text) * 1.0 / len(string_split_regex(text, '\s+')), 4) AS chars_per_ws_token
        |FROM documents""".stripMargin,

    "multimodal_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS byte_len, md5(text) AS payload_md5
        |FROM documents""".stripMargin,

    "mm_decode_frames" ->
      // Full DuckDB replay of the stub decode chain (Multimodal.decodeStub +
      // sampleFrames): synthetic payload bytes = mix64(i*8191+j)&0xff (len
      // ≥ 64, so the 32-byte header prefix is always full), signed-byte
      // ×31 fold, mix64 of the fold, duration/frame arithmetic. 64-bit
      // wrap-around is simulated in HUGEINT: a*b mod 2^64 splits the
      // multiplicand (hi*b mod 2^32)·2^32 + lo·b to stay under the 128-bit
      // ceiling; >> on a non-negative HUGEINT < 2^64 is the logical shift.
      """WITH RECURSIVE media AS (
        |  SELECT i::HUGEINT AS media_id, (i % 3) AS k FROM range(0, 200) t(i)
        |),
        |b0 AS (
        |  SELECT m.media_id, s.j, (m.media_id * 8191 + s.j)::HUGEINT AS v
        |  FROM media m, range(0, 32) s(j)
        |),
        |b1 AS (SELECT media_id, j, xor(v, v >> 33) AS v FROM b0),
        |b2 AS (SELECT media_id, j,
        |    (((v >> 32) * 18397679294719823053::HUGEINT % 4294967296::HUGEINT) * 4294967296::HUGEINT
        |      + (v & 4294967295::HUGEINT) * 18397679294719823053::HUGEINT)
        |    % 18446744073709551616::HUGEINT AS v FROM b1),
        |b3 AS (SELECT media_id, j, xor(v, v >> 33) AS v FROM b2),
        |b4 AS (SELECT media_id, j,
        |    (((v >> 32) * 14181476777654086739::HUGEINT % 4294967296::HUGEINT) * 4294967296::HUGEINT
        |      + (v & 4294967295::HUGEINT) * 14181476777654086739::HUGEINT)
        |    % 18446744073709551616::HUGEINT AS v FROM b3),
        |b5 AS (SELECT media_id, j,
        |    CASE WHEN (xor(v, v >> 33) & 255::HUGEINT) > 127
        |         THEN (xor(v, v >> 33) & 255::HUGEINT) - 256
        |         ELSE xor(v, v >> 33) & 255::HUGEINT END AS sb FROM b4),
        |fold AS (
        |  SELECT media_id, 0::BIGINT AS j, 1125899906842597::HUGEINT AS acc FROM media
        |  UNION ALL
        |  SELECT f.media_id, f.j + 1,
        |    ((f.acc * 31 + b.sb) % 18446744073709551616::HUGEINT
        |      + 18446744073709551616::HUGEINT) % 18446744073709551616::HUGEINT
        |  FROM fold f JOIN b5 b ON b.media_id = f.media_id AND b.j = f.j
        |  WHERE f.j < 32
        |),
        |h1 AS (SELECT media_id, xor(acc, acc >> 33) AS v FROM fold WHERE j = 32),
        |h2 AS (SELECT media_id,
        |    (((v >> 32) * 18397679294719823053::HUGEINT % 4294967296::HUGEINT) * 4294967296::HUGEINT
        |      + (v & 4294967295::HUGEINT) * 18397679294719823053::HUGEINT)
        |    % 18446744073709551616::HUGEINT AS v FROM h1),
        |h3 AS (SELECT media_id, xor(v, v >> 33) AS v FROM h2),
        |h4 AS (SELECT media_id,
        |    (((v >> 32) * 14181476777654086739::HUGEINT % 4294967296::HUGEINT) * 4294967296::HUGEINT
        |      + (v & 4294967295::HUGEINT) * 14181476777654086739::HUGEINT)
        |    % 18446744073709551616::HUGEINT AS v FROM h3),
        |h5 AS (SELECT media_id, xor(v, v >> 33) AS v FROM h4),
        |nf AS (
        |  SELECT h.media_id,
        |    LEAST(8, GREATEST(1, ((CASE WHEN m.k = 0 THEN 0::HUGEINT
        |                           ELSE (h.v >> 13) % 600000 END) // 30000)::BIGINT)) AS n
        |  FROM h5 h JOIN media m USING (media_id)
        |)
        |SELECT nf.media_id::BIGINT AS media_id, f.f::INT AS frame_idx,
        |  (f.f * 30000)::BIGINT AS offset_ms
        |FROM nf, range(0, 8) f(f) WHERE f.f < nf.n""".stripMargin,

    "t6_deterministic_sample" ->
      // rate 0.25 over the first 8 md5 hex chars: threshold 0x40000000
      """WITH k AS (SELECT lang,
        |    substring(md5(doc_id::VARCHAR || 'r3'), 1, 8) AS h FROM documents)
        |SELECT lang, count(*)::BIGINT AS n_total,
        |  sum(CASE WHEN h < '40000000' THEN 1 ELSE 0 END)::BIGINT AS n_sampled
        |FROM k GROUP BY 1""".stripMargin,

    "split_leakage_safe" ->
      // cumulative thresholds: 0.8 -> cccccccc, 0.9 -> e6666666
      """SELECT split, count(*)::BIGINT AS n_docs,
        |  count(DISTINCT source)::BIGINT AS n_groups
        |FROM (SELECT source,
        |    CASE WHEN substring(md5(source || 'r3'), 1, 8) < 'cccccccc' THEN 'train'
        |         WHEN substring(md5(source || 'r3'), 1, 8) < 'e6666666' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |GROUP BY 1""".stripMargin,

    "ann_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 3),
        |s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.qe::DOUBLE[], e.embedding::DOUBLE[]) AS c
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
        |r AS (SELECT query_id, neighbor_id, c,
        |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id ASC) AS rank FROM s)
        |SELECT query_id, neighbor_id, rank, round(c, 4) AS cosine FROM r WHERE rank <= 5""".stripMargin,

    "embedding_cosine_pairs" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cosine
        |FROM embeddings a JOIN embeddings b
        |  ON b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 3""".stripMargin,

    "dedup_minhash" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents),
        |t AS (SELECT doc_id,
        |    md5(array_to_string(list_sort(list_distinct(string_split(
        |      trim(regexp_replace(lower(strip_accents(text)), '[^a-z0-9]+', ' ', 'g')),
        |      ' '))), ' ')) AS tok_fp
        |  FROM all_docs)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM t a JOIN t b ON a.tok_fp = b.tok_fp AND a.doc_id < b.doc_id""".stripMargin,

    "dedup_simhash" ->
      """SELECT doc_id AS id_a, doc_id + 1000000 AS id_b, 0 AS hamming
        |FROM documents""".stripMargin,

    "embedding_neardup" ->
      """SELECT vec_id AS id_a, vec_id + 1000000 AS id_b, 1.0::DOUBLE AS cosine
        |FROM embeddings""".stripMargin,

    "ann_lsh_topk" ->
      "SELECT count(*) AS n_queries, true AS k_complete FROM embeddings",

    "ann_ivf_topk" ->
      "SELECT count(*) AS n_queries, true AS k_complete FROM embeddings",

    "er_clone_pairs" ->
      "SELECT doc_id AS id_a, doc_id + 1000000 AS id_b FROM documents",

    "er_incremental" ->
      "SELECT doc_id AS id_a, doc_id + 1000000 AS id_b FROM documents",

    "stream_assign" ->
      // every clone is assigned (no novels) and every assignment lands on a
      // feature-identical cluster (score exactly 1.0) — both predictable
      // from the row count
      "SELECT count(*) AS n_assigned, true AS all_exact_score FROM documents",

    "text_fingerprints" ->
      // FNV-1a over UTF-16 chars, replayed per character position with
      // HUGEINT arithmetic mod 2^64 (h*prime ≤ 2^104 fits HUGEINT), mapped
      // back to the signed 64-bit value Spark's LONG materializes
      """WITH RECURSIVE src AS (
        |  SELECT doc_id, text,
        |    trim(regexp_replace(lower(strip_accents(text)), '[^a-z0-9]+', ' ', 'g')) AS norm
        |  FROM documents),
        |fr(doc_id, i, n, h) AS (
        |  SELECT doc_id, 0, length(text), 14695981039346656037::HUGEINT FROM src
        |  UNION ALL
        |  SELECT fr.doc_id, i + 1, n,
        |    (xor(h, unicode(substring(s.text, i + 1, 1))::HUGEINT)
        |      * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT
        |  FROM fr JOIN src s ON s.doc_id = fr.doc_id WHERE i < n),
        |fm(doc_id, i, n, h) AS (
        |  SELECT doc_id, 0, length(norm), 14695981039346656037::HUGEINT FROM src
        |  UNION ALL
        |  SELECT fm.doc_id, i + 1, n,
        |    (xor(h, unicode(substring(s.norm, i + 1, 1))::HUGEINT)
        |      * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT
        |  FROM fm JOIN src s ON s.doc_id = fm.doc_id WHERE i < n)
        |SELECT r.doc_id,
        |  CASE WHEN r.h >= 9223372036854775808::HUGEINT
        |       THEN (r.h - 18446744073709551616::HUGEINT)::BIGINT ELSE r.h::BIGINT END AS fp_raw,
        |  CASE WHEN m.h >= 9223372036854775808::HUGEINT
        |       THEN (m.h - 18446744073709551616::HUGEINT)::BIGINT ELSE m.h::BIGINT END AS fp_norm
        |FROM (SELECT doc_id, h FROM fr WHERE i = n) r
        |JOIN (SELECT doc_id, h FROM fm WHERE i = n) m USING (doc_id)""".stripMargin,

    "er_pipeline" ->
      // structural guarantee: every (id, id+1M) exact-clone pair is a TP
      // (identical features ⇒ same blocks ⇒ score 1 ≥ τ ⇒ same cluster)
      "SELECT count(*)::BIGINT AS tp, 0::BIGINT AS fn FROM documents",

    "a1_triplet_merge" ->
      // doc-level truth (no windows): consecutive 't…'-token positions
      // (p, np) form one triplet IFF some window [off, off+32) holds both;
      // conf = first (minimum) such window offset + 1, the first-seen rule
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |    len(string_split(text, ' ')) AS n FROM documents),
        |tok AS (SELECT doc_id, n, unnest(toks) AS token,
        |    generate_subscripts(toks, 1) - 1 AS p FROM d),
        |tpos AS (SELECT doc_id, n, token, p,
        |    lead(p) OVER (PARTITION BY doc_id ORDER BY p) AS np,
        |    lead(token) OVER (PARTITION BY doc_id ORDER BY p) AS ntoken
        |  FROM tok WHERE token LIKE 't%'),
        |starts AS (
        |  SELECT doc_id, unnest(range(0, greatest(n - 32, 0) + 1, 16)) AS off FROM d
        |  UNION SELECT doc_id, greatest(n - 32, 0) AS off FROM d)
        |SELECT t.doc_id, t.p AS s_start, t.p + 1 AS s_end, t.token AS s_label,
        |  'r' || ((t.p + t.np) % 3) AS relation,
        |  t.np AS o_start, t.np + 1 AS o_end, t.ntoken AS o_label,
        |  (SELECT min(st.off) FROM starts st
        |    WHERE st.doc_id = t.doc_id AND st.off <= t.p AND t.np < st.off + 32) + 1.0 AS conf
        |FROM tpos t WHERE t.np IS NOT NULL
        |  AND EXISTS (SELECT 1 FROM starts st
        |    WHERE st.doc_id = t.doc_id AND st.off <= t.p AND t.np < st.off + 32)""".stripMargin,

    "rel_strong_matching" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS token,
        |    generate_subscripts(toks, 1) - 1 AS p FROM d),
        |tpos AS (SELECT doc_id, token, p,
        |    lead(p) OVER (PARTITION BY doc_id ORDER BY p) AS np,
        |    lead(token) OVER (PARTITION BY doc_id ORDER BY p) AS ntoken
        |  FROM tok WHERE token LIKE 't%'),
        |gold AS (SELECT doc_id, p, p AS s_start, p + 1 AS s_end, token AS s_label,
        |    'r' || ((p + np) % 3) AS relation, np AS o_start, np + 1 AS o_end,
        |    ntoken AS o_label
        |  FROM tpos WHERE np IS NOT NULL),
        |pred AS (SELECT doc_id, s_start, s_end,
        |    CASE WHEN p % 11 = 0 THEN upper(s_label) ELSE s_label END AS s_label,
        |    CASE WHEN p % 5 = 0 THEN 'rX' ELSE relation END AS relation,
        |    o_start, o_end, o_label
        |  FROM gold WHERE p % 7 <> 0),
        |sp AS (SELECT DISTINCT doc_id, s_start, s_end, s_label, relation, o_start, o_end, o_label FROM pred),
        |sg AS (SELECT DISTINCT doc_id, s_start, s_end, s_label, relation, o_start, o_end, o_label FROM gold),
        |bp AS (SELECT DISTINCT doc_id, s_start, s_end, relation, o_start, o_end FROM pred),
        |bg AS (SELECT DISTINCT doc_id, s_start, s_end, relation, o_start, o_end FROM gold),
        |c AS (SELECT
        |  (SELECT count(*) FROM sg) AS n_gold,
        |  (SELECT count(*) FROM sp) AS n_pred,
        |  (SELECT count(*) FROM bg) AS n_gold_bound,
        |  (SELECT count(*) FROM bp) AS n_pred_bound,
        |  (SELECT count(*) FROM (SELECT * FROM bp INTERSECT SELECT * FROM bg)) AS correct_bound,
        |  (SELECT count(*) FROM (SELECT * FROM sp INTERSECT SELECT * FROM sg)) AS correct_strict),
        |m AS (SELECT n_gold, n_pred, correct_bound, correct_strict,
        |  CASE WHEN n_pred_bound = 0 THEN 0.0 ELSE correct_bound * 1.0 / n_pred_bound END AS pb,
        |  CASE WHEN n_gold_bound = 0 THEN 0.0 ELSE correct_bound * 1.0 / n_gold_bound END AS rb,
        |  CASE WHEN n_pred = 0 THEN 0.0 ELSE correct_strict * 1.0 / n_pred END AS ps,
        |  CASE WHEN n_gold = 0 THEN 0.0 ELSE correct_strict * 1.0 / n_gold END AS rs
        |  FROM c)
        |SELECT n_gold::BIGINT AS n_gold, n_pred::BIGINT AS n_pred,
        |  correct_bound::BIGINT AS correct_bound, correct_strict::BIGINT AS correct_strict,
        |  round(pb, 4) AS precision_bound, round(rb, 4) AS recall_bound,
        |  round(CASE WHEN pb = 0 OR rb = 0 THEN 0.0 ELSE 2 * pb * rb / (pb + rb) END, 4) AS f1_bound,
        |  round(ps, 4) AS precision_strict, round(rs, 4) AS recall_strict,
        |  round(CASE WHEN ps = 0 OR rs = 0 THEN 0.0 ELSE 2 * ps * rs / (ps + rs) END, 4) AS f1_strict
        |FROM m""".stripMargin,

    "rel_per_relation" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS token,
        |    generate_subscripts(toks, 1) - 1 AS p FROM d),
        |tpos AS (SELECT doc_id, token, p,
        |    lead(p) OVER (PARTITION BY doc_id ORDER BY p) AS np,
        |    lead(token) OVER (PARTITION BY doc_id ORDER BY p) AS ntoken
        |  FROM tok WHERE token LIKE 't%'),
        |gold AS (SELECT doc_id, p, p AS s_start, p + 1 AS s_end, token AS s_label,
        |    'r' || ((p + np) % 3) AS relation, np AS o_start, np + 1 AS o_end,
        |    ntoken AS o_label
        |  FROM tpos WHERE np IS NOT NULL),
        |pred AS (SELECT doc_id, s_start, s_end,
        |    CASE WHEN p % 11 = 0 THEN upper(s_label) ELSE s_label END AS s_label,
        |    CASE WHEN p % 5 = 0 THEN 'rX' ELSE relation END AS relation,
        |    o_start, o_end, o_label
        |  FROM gold WHERE p % 7 <> 0),
        |sp AS (SELECT DISTINCT doc_id, s_start, s_end, s_label, relation, o_start, o_end, o_label FROM pred),
        |sg AS (SELECT DISTINCT doc_id, s_start, s_end, s_label, relation, o_start, o_end, o_label FROM gold),
        |bp AS (SELECT DISTINCT doc_id, s_start, s_end, relation, o_start, o_end FROM pred),
        |bg AS (SELECT DISTINCT doc_id, s_start, s_end, relation, o_start, o_end FROM gold),
        |per_gold AS (SELECT relation, count(*) AS support FROM sg GROUP BY 1),
        |per_pred AS (SELECT relation, count(*) AS n_pred FROM sp GROUP BY 1),
        |per_bound AS (SELECT relation, count(*) AS correct_bound
        |  FROM (SELECT * FROM bp INTERSECT SELECT * FROM bg) GROUP BY 1),
        |per_strict AS (SELECT relation, count(*) AS correct_strict
        |  FROM (SELECT * FROM sp INTERSECT SELECT * FROM sg) GROUP BY 1),
        |j AS (SELECT g.relation, g.support,
        |    coalesce(p.n_pred, 0) AS n_pred,
        |    coalesce(b.correct_bound, 0) AS correct_bound,
        |    coalesce(s.correct_strict, 0) AS correct_strict
        |  FROM per_gold g LEFT JOIN per_pred p USING (relation)
        |  LEFT JOIN per_bound b USING (relation)
        |  LEFT JOIN per_strict s USING (relation)),
        |m AS (SELECT *,
        |  CASE WHEN n_pred = 0 THEN 0.0 ELSE correct_bound * 1.0 / n_pred END AS pr,
        |  CASE WHEN support = 0 THEN 0.0 ELSE correct_bound * 1.0 / support END AS rc,
        |  CASE WHEN n_pred = 0 THEN 0.0 ELSE correct_strict * 1.0 / n_pred END AS prs,
        |  CASE WHEN support = 0 THEN 0.0 ELSE correct_strict * 1.0 / support END AS rcs
        |  FROM j)
        |SELECT relation, support::BIGINT AS support, n_pred::BIGINT AS n_pred,
        |  correct_bound::BIGINT AS correct_bound, correct_strict::BIGINT AS correct_strict,
        |  round(pr, 4) AS precision, round(rc, 4) AS recall,
        |  round(CASE WHEN pr = 0 OR rc = 0 THEN 0.0 ELSE 2 * pr * rc / (pr + rc) END, 4) AS f1,
        |  round(CASE WHEN prs = 0 OR rcs = 0 THEN 0.0 ELSE 2 * prs * rcs / (prs + rcs) END, 4) AS f1_strict
        |FROM m""".stripMargin,

    "a1_candidate_merge" ->
      // first-seen order = (window offset, in-window rank); ord = off*4+i is
      // collision-free for i ∈ 1..3
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |    len(string_split(text, ' ')) AS n FROM documents),
        |starts AS (
        |  SELECT doc_id, unnest(range(0, greatest(n - 32, 0) + 1, 16)) AS off FROM d
        |  UNION SELECT doc_id, greatest(n - 32, 0) AS off FROM d),
        |wins AS (SELECT s.doc_id, s.off, d.toks[s.off + 1 : s.off + 32] AS win
        |  FROM starts s JOIN d ON d.doc_id = s.doc_id),
        |cand AS (SELECT doc_id, off, unnest(win[1:3]) AS candidate,
        |    generate_subscripts(win[1:3], 1) AS i FROM wins),
        |firsts AS (SELECT doc_id, candidate, min(off * 4 + i) AS ord
        |  FROM cand GROUP BY 1, 2)
        |SELECT doc_id,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY ord)::INT AS rank,
        |  candidate
        |FROM firsts""".stripMargin,

    "eval_miss_diagnostics" ->
      """WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
        |gold AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
        |    abs(a.n_chars - b.n_chars) AS dist
        |  FROM d a JOIN d b ON b.doc_id = a.doc_id + 1 AND a.lang = b.lang),
        |j AS (SELECT *,
        |    (floor(ida / 10) = floor(idb / 10)) AS pred,
        |    (dist <= 150) AS is_cand FROM gold)
        |SELECT count(*)::BIGINT AS n_gold_pos,
        |  sum(CASE WHEN pred THEN 1 ELSE 0 END)::BIGINT AS tp,
        |  sum(CASE WHEN NOT pred AND NOT is_cand THEN 1 ELSE 0 END)::BIGINT AS fn_not_candidate,
        |  sum(CASE WHEN NOT pred AND is_cand THEN 1 ELSE 0 END)::BIGINT AS fn_scored_apart,
        |  round(sum(CASE WHEN pred THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS recall,
        |  round(sum(CASE WHEN is_cand THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS blocking_recall
        |FROM j""".stripMargin,

    "cc_components" ->
      """WITH RECURSIVE e AS (
        |  SELECT a.doc_id AS u, b.doc_id AS v FROM documents a
        |  JOIN documents b ON b.doc_id = a.doc_id + 1 AND a.lang = b.lang),
        |nodes AS (SELECT DISTINCT u AS n FROM (SELECT u FROM e UNION ALL SELECT v AS u FROM e)),
        |sym AS (SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e),
        |reach(n, m) AS (
        |  SELECT n, n FROM nodes
        |  UNION
        |  SELECT r.n, s.v FROM reach r JOIN sym s ON r.m = s.u)
        |SELECT n AS id, min(m) AS comp FROM reach GROUP BY n""".stripMargin,

    // the incremental result must equal from-scratch CC over the UNION
    // graph (base ∪ delta = all consecutive same-lang pairs + the %13
    // skip-edges), so the oracle is the full-graph closure — the base/delta
    // split exists only on the Spark side, where `incremental` takes the
    // base assignment and folds the delta in.
    "cc_incremental" ->
      """WITH RECURSIVE e AS (
        |  SELECT a.doc_id AS u, b.doc_id AS v FROM documents a
        |  JOIN documents b ON b.doc_id = a.doc_id + 1 AND a.lang = b.lang
        |  UNION ALL
        |  SELECT a.doc_id AS u, b.doc_id AS v FROM documents a
        |  JOIN documents b ON b.doc_id = a.doc_id + 2 AND a.lang = b.lang
        |   AND a.doc_id % 13 = 0),
        |nodes AS (SELECT DISTINCT u AS n FROM (SELECT u FROM e UNION ALL SELECT v AS u FROM e)),
        |sym AS (SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e),
        |reach(n, m) AS (
        |  SELECT n, n FROM nodes
        |  UNION
        |  SELECT r.n, s.v FROM reach r JOIN sym s ON r.m = s.u)
        |SELECT n AS id, min(m) AS comp FROM reach GROUP BY n""".stripMargin)
}
