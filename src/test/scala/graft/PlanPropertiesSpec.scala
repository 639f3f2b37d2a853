package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality regression guard: the physical properties SCALE.md
  * claims (broadcast dim joins, parquet pushdown, exchange reuse) are
  * asserted here so a refactor that silently degrades a plan fails CI,
  * not the 100 TB run. */
class PlanPropertiesSpec extends AnyFunSuite with SparkTestBase {

  private def executedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf0001)
    df.queryExecution.executedPlan.execute().count()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  test("q03 joins dims via broadcast, never sort-merge") {
    val p = executedPlan("q03_join_agg")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join:\n$p")
  }

  test("q11 series scan pushes series+time predicates to parquet") {
    val p = executedPlan("q11_series_scan")
    assert(p.contains("PushedFilters"), p)
    assert("PushedFilters: \\[[^\\]]*user_id".r.findFirstIn(p).isDefined,
      s"series key not pushed:\n$p")
  }

  test("q25 reuses the shared shingle subtree instead of rescanning") {
    // reuse arrives either as exchange reuse or as the persisted
    // doc-set cache (sets/freq are persisted inside jaccardPairs)
    val p = executedPlan("q25_jaccard_pairs")
    assert(p.contains("ReusedExchange") || p.contains("InMemoryTableScan"),
      s"no subtree reuse:\n$p")
  }

  test("q55 range join plans an equi-join, never a nested loop") {
    val p = executedPlan("q55_range_join")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"range join degenerated to a nested loop:\n$p")
  }

  test("q49 salted join broadcasts the replicated dim") {
    val p = executedPlan("q49_salted_join")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join:\n$p")
  }

  test("q48 window family runs all functions over one shuffle") {
    val p = executedPlan("q48_window_family")
    // one Exchange for the window partitioning, none extra
    assert(p.split("Exchange hashpartitioning").length == 2,
      s"expected exactly one window shuffle:\n$p")
  }

  test("q42 fingerprint is a zero-exchange codegen scan") {
    val p = executedPlan("q42_rolling_fingerprint")
    assert(!p.contains("Exchange"), s"unexpected shuffle:\n$p")
    assert(p.contains("WholeStageCodegen") || p.contains("*("), s"no codegen:\n$p")
  }

  test("q65 tied merge+limit runs zero exchanges (per-child top-n + merge)") {
    val p = executedPlan("q65_merge_limit")
    assert(p.contains("TakeOrderedAndProject"), s"no pushed top-n:\n$p")
    assert(!p.contains("Exchange"), s"unexpected shuffle:\n$p")
  }

  test("q64 multi-probe ANN broadcasts the probe side, never sort-merge") {
    val p = executedPlan("q64_ann_multiprobe")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast bucket join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join:\n$p")
  }

  test("q01 aggregates with map-side partials (two-phase hash agg)") {
    val p = executedPlan("q01_pricing_summary")
    assert("partial_sum|partial_count".r.findFirstIn(p).isDefined ||
      p.contains("HashAggregate"), s"no partial aggregation:\n$p")
    assert(p.split("Exchange").length == 2, // exactly one exchange
      s"expected exactly one shuffle:\n$p")
  }

  test("q69 bucketed join + keyed agg run with ZERO exchanges over bucketed scans") {
    val p = executedPlan("q69_bucketed_join")
    assert(p.contains("SortMergeJoin"), s"expected the pinned merge join:\n$p")
    assert(!p.contains("Exchange"),
      s"bucketed co-location failed — the join or agg shuffled:\n$p")
    assert(p.contains("SelectedBucketsCount"), s"scan did not use buckets:\n$p")
    // note: the per-bucket Sorts under the join are LOCAL (the
    // no-Exchange assertion above rules out any network sort) — Spark
    // ignores bucket sortBy order by default since SPARK-28595; the
    // win that matters at 100 TB is the eliminated shuffle
  }

  test("q70 session windows aggregate over a single exchange") {
    val p = executedPlan("q70_session_window")
    assert(p.split("Exchange hashpartitioning").length == 2,
      s"expected exactly one session shuffle:\n$p")
  }

  test("q72 trigram langid joins the profile via broadcast, never sort-merge") {
    val p = executedPlan("q72_langid_ngram")
    assert(p.contains("BroadcastHashJoin"), s"profile join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join:\n$p")
  }

  test("q73 ingest screen broadcasts the incoming side, never sort-merge") {
    val p = executedPlan("q73_minhash_screen")
    assert(p.contains("BroadcastHashJoin"), s"screen joins not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus side shuffled despite broadcast screen:\n$p")
  }

  test("screens drop every broadcast hint past the batch ceiling (both-sides shuffle mode)") {
    // disable auto-broadcast so the physical join kind reflects ONLY
    // the operator's own hints — at test SF AQE would otherwise
    // broadcast the small side in both modes and mask the regression
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // AQE re-plans joins against its own threshold at runtime
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val docs = graft.sources.Tables.load(spark, sf0001, "documents")
      val emb = graft.sources.Tables.load(spark, sf0001, "embeddings")
      import org.apache.spark.sql.functions.col
      def minhash(maxRows: Long) = graft.operators.Dedup.minhashScreen(
        docs.where(col("doc_id") < 400), docs.where(col("doc_id") >= 400),
        "doc_id", "text", k = 2, nHashes = 16, bandSize = 4,
        broadcastMaxRows = maxRows)
      def embed(maxRows: Long) = graft.operators.Similarity.cosineScreen(
        emb.where(col("vec_id") < 400), emb.where(col("vec_id") >= 400),
        "vec_id", "embedding", threshold = 0.3, nBits = 4, dim = 64,
        broadcastMaxRows = maxRows)
      // hint nodes canonicalize away, so the cache manager would
      // substitute a previously persisted broadcast-mode result into
      // the shuffle-mode query — clear between modes to see the real plan
      def plan(mk: => org.apache.spark.sql.DataFrame): String = {
        spark.catalog.clearCache()
        mk.queryExecution.executedPlan.toString
      }
      // broadcast mode: hints present, corpus side never shuffle-joined
      val mhSmall = plan(minhash(Long.MaxValue))
      assert(mhSmall.contains("BroadcastHashJoin"), mhSmall)
      val emSmall = plan(embed(Long.MaxValue))
      assert(emSmall.contains("BroadcastHashJoin"), emSmall)
      // shuffle mode: NO broadcast anywhere — every join is a
      // both-sides exchange on its keys
      val mhBig = plan(minhash(0L))
      assert(!mhBig.contains("BroadcastHashJoin") &&
        !mhBig.contains("BroadcastExchange"),
        s"broadcast survived past the ceiling:\n$mhBig")
      assert(mhBig.contains("SortMergeJoin") || mhBig.contains("ShuffledHashJoin"),
        s"no shuffle join in big-batch mode:\n$mhBig")
      val emBig = plan(embed(0L))
      assert(!emBig.contains("BroadcastHashJoin") &&
        !emBig.contains("BroadcastExchange"),
        s"broadcast survived past the ceiling:\n$emBig")
      assert(emBig.contains("SortMergeJoin") || emBig.contains("ShuffledHashJoin"),
        s"no shuffle join in big-batch mode:\n$emBig")
      // same answers in both modes (the regime is a plan choice only)
      val mhRef = minhash(Long.MaxValue).collect().toSet
      val emRef = embed(Long.MaxValue).collect().toSet
      spark.catalog.clearCache()
      assert(minhash(0L).collect().toSet === mhRef)
      assert(embed(0L).collect().toSet === emRef)
      spark.catalog.clearCache()
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("q137 triangle join runs on equi-joins, never a cartesian edge product") {
    val p = executedPlan("q137_triangles")
    // the only non-equi joins are the 1-row aggregate attaches
    // (BroadcastNestedLoop over single rows); an edge-set cartesian
    // would appear as CartesianProduct
    assert(!p.contains("CartesianProduct"),
      s"edge-set cartesian in triangle join:\n$p")
  }

  test("q139 model inference is a zero-exchange single-scan projection") {
    val p = executedPlan("q139_quality_model")
    assert(!p.contains("Exchange"),
      s"broadcast-model inference must not shuffle:\n$p")
    assert("FileScan".r.findAllIn(p).size === 1,
      s"inference must read the corpus exactly once:\n$p")
    // the token array is projected once — a per-feature tokens(text)
    // would re-split the text per feature per row
    assert("split\\(lower".r.findAllIn(p).size === 1,
      s"tokens recomputed per feature:\n$p")
  }

  test("q68 scan prunes partitions: filters land in PartitionFilters, files shrink") {
    val p = executedPlan("q68_partition_prune")
    assert("PartitionFilters: \\[[^\\]]*event_type[^\\]]*click".r.findFirstIn(p).isDefined,
      s"event_type filter not applied at partition level:\n$p")
    assert("PartitionFilters: \\[[^\\]]*day".r.findFirstIn(p).isDefined,
      s"day range filter not applied at partition level:\n$p")
    // the pruned scan must read exactly the directories that match the
    // filter — expected count derived from the written data, not
    // hard-coded, so a regenerated fixture can't break the guard
    import org.apache.spark.sql.functions.col
    val path = graft.sources.Tables.scratchPartitionedPath
    val filter = col("event_type") === "click" &&
      col("day").between("d20240108", "d20240121")
    def partitionCount(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collectLeaves()
        .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount }.head
    val scanned = partitionCount(spark.read.parquet(path).where(filter))
    val total = partitionCount(spark.read.parquet(path))
    val expected = spark.read.parquet(path).where(filter)
      .select("event_type", "day").distinct().count()
    assert(scanned.toLong == expected,
      s"expected $expected pruned directories, got $scanned")
    assert(scanned < total, s"pruning read all $total directories")
  }

  test("q58 multimodal pipeline joins via broadcast and reuses the corpus scan") {
    val p = executedPlan("q58_multimodal_pipeline")
    assert(p.contains("BroadcastHashJoin"), s"id joins not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join:\n$p")
    // decode/quarantine/resize branches must share the scratch scan,
    // not re-read it per consumer
    assert(p.contains("ReusedExchange"), s"corpus subtree not reused:\n$p")
  }

  test("q76 resize oracle is one broadcast join, no extra shuffles") {
    val p = executedPlan("q76_resize_oracle")
    assert(p.contains("BroadcastHashJoin"), s"image-id join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join:\n$p")
  }

  test("q78 mixture sample is a zero-exchange codegen filter") {
    val p = executedPlan("q78_stratified_sample")
    assert(!p.contains("Exchange"), s"sampling must not shuffle:\n$p")
    assert(p.contains("WholeStageCodegen") || p.contains("*("), s"no codegen:\n$p")
  }

  test("q79 sequence packing runs one shard exchange, no global sort") {
    val p = executedPlan("q79_sequence_pack")
    assert(p.split("Exchange hashpartitioning").length == 2,
      s"expected exactly the shard window shuffle:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"global sort would funnel the corpus:\n$p")
  }

  test("q99 bloom decontamination filters BEFORE the shuffle join") {
    // operator materializes eagerly; audit the pre-checkpoint plan
    val docs = graft.sources.Tables.load(spark, sf0001, "documents")
    val train = docs.where(org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.lit(97L)) =!= 0)
    val eval = docs.where(org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.lit(97L)) === 0)
    val out = graft.operators.Dedup.decontaminateBloom(
      train, eval, "doc_id", "text", k = 4)
    // the returned frame is checkpointed; re-derive the plan shape by
    // running the same pipeline unmaterialized
    val evalSh = graft.operators.Dedup.shingleSet(eval, "doc_id", "text", 4, "eval_id")
    val hashes = evalSh.select(org.apache.spark.sql.functions.xxhash64(
      org.apache.spark.sql.functions.col("s"))).distinct()
      .collect().map(_.getLong(0))
    val (bits, nh) = graft.expressions.BloomMightContain.build(
      hashes.iterator, hashes.length.toLong)
    val plan = graft.operators.Dedup.shingleSet(train, "doc_id", "text", 4, "train_id")
      .where(graft.expressions.BloomMightContain(
        org.apache.spark.sql.functions.xxhash64(
          org.apache.spark.sql.functions.col("s")), bits, nh))
      .join(evalSh.hint("merge"), "s")
    val p = plan.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"shuffle join not pinned:\n${p.take(2000)}")
    assert(p.contains("bloommightcontain") || p.contains("BloomMightContain"),
      s"bloom filter missing from the probe side:\n${p.take(2000)}")
    out.unpersist()
  }

  test("q103 repeated spans: two window exchanges, never a self-join") {
    val p = executedPlan("q103_repeated_spans")
    assert(!p.contains("Join"), s"one-lineage window formulation only:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected <=2 exchanges (shingle + doc windows):\n$p")
  }

  test("q104 gopher rules are a zero-exchange codegen scan") {
    val p = executedPlan("q104_gopher_rules")
    assert(!p.contains("Exchange"), s"doc-local rules must not shuffle:\n$p")
    // this toString renders whole-stage-codegen stages as "*(n)"
    assert(p.contains("*("), s"rules must stay codegen:\n$p")
  }

  test("q102 DSIR joins the log-ratio table broadcast, corpus never built") {
    // eager operator — audit the re-derived weight pipeline: the
    // (doc,bucket) counts frame joins a broadcast 256-row table and
    // is never on the build side of anything
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.load(spark, sf0001, "documents")
    val counts = docs
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.shingles(col("text"), 2)).as("s"))
      .select(col("doc_id"),
        graft.operators.Splits.hashShard(col("s"), "dsir", 256).as("bucket"))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("cnt"))
    val lrTbl = spark.range(256).select(col("id").as("bucket"),
      (col("id") * 0.01).as("lr"))
    val p = counts.join(broadcast(lrTbl), "bucket")
      .groupBy("doc_id").agg(round(sum(col("cnt") * col("lr")), 4).as("weight"))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"log-ratio not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corpus side must never shuffle for the lr join:\n$p")
  }

  test("q101 semdedup assignment is codegen, pair join never cartesian") {
    // operator materializes eagerly (checkpointed); audit the
    // re-derived pre-checkpoint pipeline like the q99 guard
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Tables.load(spark, sf0001, "embeddings")
    val centroids = graft.operators.Similarity.quantizeDistributed(
      emb, "vec_id", "embedding", nCentroids = 16, iters = 3)
    val assigned = graft.operators.Similarity.withNorm(
        emb.select(col("vec_id"), col("embedding").as("v")), "v", "nrm")
      .withColumn("sc", array_min(array(
        graft.operators.Similarity.cellScores(col("v"), centroids): _*)))
      .select(col("vec_id"), col("v"), col("nrm"),
        col("sc").getField("cell").cast("long").as("cell"),
        col("sc").getField("d").as("cd"))
    val u = assigned.select(col("cell"), col("vec_id").as("uid"),
      col("v").as("uv"), col("nrm").as("un"), col("cd").as("ucd"))
    val p = assigned.join(u, Seq("cell"))
      .where(col("ucd") < col("cd"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"pair join must stay cell-local:\n${p.take(2000)}")
    assert(!p.contains("BatchEval"),
      s"assignment must stay in codegen, no python/UDF eval:\n${p.take(2000)}")
  }

  test("q100 BM25 broadcasts the query side into the postings join") {
    val p = executedPlan("q100_bm25_retrieval")
    // query terms and the 1-row stats frame both arrive broadcast; the
    // corpus postings frame is never on the build side of anything
    assert(p.contains("BroadcastHashJoin"), s"query side not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"postings join must not shuffle the query side:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian leak:\n$p")
  }

  test("q94 repetition signals are a zero-exchange codegen scan") {
    val p = executedPlan("q94_repetition_signals")
    assert(!p.contains("Exchange"), s"doc-local signal must not shuffle:\n$p")
    assert(!p.contains("Generate"), s"native expression, not explode:\n$p")
  }

  test("q92 bin slices add NO exchange beyond q79's shard window shuffle") {
    val p = executedPlan("q92_pack_bins")
    assert(p.split("Exchange hashpartitioning").length == 2,
      s"expected exactly the shard window shuffle:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"global sort would funnel the corpus:\n$p")
  }

  test("q80 decontamination broadcasts the eval side, corpus never shuffle-joined") {
    val p = executedPlan("q80_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"eval side not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled into the join:\n$p")
  }

  test("q81 frame sampling is a zero-exchange scan + flatMap") {
    val p = executedPlan("q81_frame_sample")
    assert(!p.contains("Exchange"), s"frame explode must not shuffle:\n$p")
  }

  test("q82 csv parse is a zero-exchange codegen scan") {
    val p = executedPlan("q82_rts_csv_parse")
    assert(!p.contains("Exchange"), s"parse must not shuffle:\n$p")
  }

  test("q83 composed pipeline scans documents ONCE — no keeper self-join") {
    val p = executedPlan("q83_corpus_pipeline")
    // window-based keeper selection: the scrub lineage must not be
    // re-evaluated by a join probe side
    assert(!p.contains("Join"), s"keeper selection regressed to a self-join:\n$p")
    assert(p.split("Scan parquet").length == 2,
      s"expected exactly one documents scan:\n$p")
  }

  test("q117 global cumsum scan runs ONE range exchange + a broadcast carry join") {
    val p = executedPlan("q117_cumsum_scan")
    // the whole point of Scan.linearRecurrence: no single-partition
    // window sort, one range repartition, carries arrive broadcast
    assert(p.contains("Exchange rangepartitioning"), s"no range phase:\n$p")
    assert(p.split("Exchange rangepartitioning").length == 2,
      s"expected exactly one range exchange:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"carry join not broadcast:\n$p")
    assert(!p.contains("Window"), s"scan degenerated to a window:\n$p")
  }

  test("q118 PQ encode scan joins the broadcast query tables, never sort-merge") {
    val p = executedPlan("q118_pq_ann")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), s"query side not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus codes must stream, not shuffle:\n$p")
  }

  test("q122 co-occurrence joins baskets on basket keys, total arrives broadcast") {
    val p = executedPlan("q122_cooccurrence")
    assert(!p.contains("CartesianProduct"),
      s"pair join must stay basket-keyed:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"1-row total must arrive broadcast:\n$p")
  }

  test("q150 linkage spreads the probe side before the broadcast verify") {
    // the dim side broadcasts, so without the explicit round-robin
    // repartition the whole Levenshtein verify would run in the
    // scan's single input split (measured 14.7 s vs 1.3 s at sf0.1)
    val p = executedPlan("q150_fuzzy_linkage")
    assert(p.contains("ROUND_ROBIN") || p.contains("RoundRobinPartitioning")
      || p.contains("REPARTITION_BY_NUM"),
      s"probe side not spread before the verify:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"dim side must broadcast:\n$p")
  }

  test("q153 packing's global cumsum is range-partitioned, never a single-partition window") {
    val p = executedPlan("q153_sequence_packing")
    assert(!p.contains("Window [") ||
      !"Window \\[[^\\]]*\\], \\[\\]".r.findFirstIn(p).isDefined,
      s"unpartitioned window in the cumsum:\n$p")
    assert(p.contains("rangepartitioning") || p.contains("RangePartitioning"),
      s"two-phase scan lost its range partitioning:\n$p")
  }

  test("q151 profiler computes every column's metrics in one scan") {
    val p = executedPlan("q151_profile")
    assert("Scan parquet".r.findAllIn(p).length <= 1,
      s"profiler re-scanned per column:\n$p")
  }

  test("q158 sketch profiler: one scan, NO Expand (the exact-distinct k-fold blowup)") {
    val p = executedPlan("q158_profile_sketch")
    assert(!p.contains("Expand"),
      s"sketch profiler expanded the scan:\n$p")
    assert("Scan parquet".r.findAllIn(p).length <= 1,
      s"profiler re-scanned per column:\n$p")
  }

  test("PageRank iteration never re-exchanges the checkpointed edge side") {
    import org.apache.spark.sql.functions._
    // PageRank.runImpl checkpoints the edge list hash-partitioned by
    // src; localCheckpoint captures that outputPartitioning into the
    // LogicalRDD, so each iteration's src-join exchanges ONLY the rank
    // frame (plus the inherent dst aggregate) — 2 exchanges, not 3.
    // Replicates the loop-body shape; broadcast disabled so the shuffle
    // requirement is actually exercised (AQE broadcasts at test scale).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import spark.implicits._
      val e = org.apache.spark.sql.graft.Bridge.localCheckpointPartitioned(
        (1 to 400).map(i => (i.toLong % 40, i.toLong % 17))
          .toDF("src", "dst").distinct()
          .withColumn("deg", lit(2.0))
          .repartition(4, col("src")))
      val rank = (0L until 40L).map(i => (i, 1.0 / 40))
        .toDF("node", "r").localCheckpoint()
      val iter = e
        .join(rank.select(col("node").as("src"), col("r")), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("r") / col("deg")).as("mass"))
      iter.queryExecution.executedPlan.execute().count()
      val p = iter.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val n = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(n <= 2, s"edge side re-exchanged ($n exchanges):\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q226 Gini rank window is bin-partitioned, never a customer funnel") {
    val p = executedPlan("q226_gini")
    // the two-level rank: the customer-data window is partitioned by
    // the cent bin; single-partition exchanges carry only tiny frames
    // — the ≤1024-row offsets prefix window and the final global
    // aggregate's one-partial-row-per-task reduce — never the
    // customer rows themselves
    assert(p.contains("hashpartitioning(bin"),
      s"expected the bin exchange:\n$p")
    assert(p.split("Exchange SinglePartition").length - 1 <= 2,
      s"extra funnel exchanges:\n$p")
  }

  test("q191 pass-2 bracket is PUSHED into the parquet scan") {
    // the exact bin-membership test is a computed column (not
    // pushable); the redundant value-range bracket must reach the
    // scan so row groups outside the needed bins never decompress
    val df = SparkEntry.queries("q191_exact_quantiles")(spark, sf0001)
    df.queryExecution.executedPlan.execute().count()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("PushedFilters: [IsNotNull(l_extendedprice), Or(") ||
      ("""PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_extendedprice""".r
        .findFirstIn(p).isDefined),
      s"bracket not pushed to the scan:\n$p")
  }
}
