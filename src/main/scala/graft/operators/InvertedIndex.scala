package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.streaming.BucketedLog

/** INCREMENTALLY-MAINTAINED INVERTED INDEX — the stored-state form of
  * [[Retrieval.bm25TopK]]: a search deployment does not re-tokenize
  * 100 TB per query, it maintains postings as documents arrive and
  * answers from the store.
  *
  * The [[BucketedLog]] states (plus the opt-in `fwd/` forward index —
  * see `fwdLog`):
  *
  *   - `post/` — postings `(term, cand_id, dl, tf)` hash-keyed by
  *     TERM: an ingest batch appends its own docs' postings as an
  *     immutable SEGMENT ([[BucketedLog.appendBatch]] — new doc ids
  *     by contract, screened exactly-once by `#batch=` on replay).
  *     Append-only matters here: a Zipfian text batch carries terms
  *     hashing into essentially EVERY postings bucket, so a
  *     rewrite-style merge would re-write ~the whole index per
  *     batch; the segment commit writes O(batch postings) and folds
  *     a bucket's segments only when its list fills (the Lucene
  *     segment + amortized-merge discipline, `inverted_ingest_batch`
  *     probe pins one fixed batch ~flat vs a 4× grown index);
  *   - `stats/` — ONE row `(n, sumdl)` folded additively per batch
  *     (exact longs; the `#batch=` guard is what makes additive
  *     folds replay-safe, the q199 argument);
  *   - `tomb/` — doc-id TOMBSTONES for deferred deletes
  *     ([[deleteDocsDeferred]]): the merge-on-read dual of the
  *     eager [[deleteDocs]] purge, because a purge-now delete pays
  *     a touched-bucket rewrite of every bucket the doomed docs'
  *     terms hash to — ~O(index) for Zipfian text, the same
  *     amplification the segment commit removed from ingest. A
  *     tombstone delete costs O(|batch|); every query subtracts the
  *     (bounded, un-purged) tombstone set BEFORE df — answers are
  *     bit-identical to an index never containing the docs — and
  *     ONE amortized [[purgeDeletes]] pass physically drops the
  *     postings and drains the tombstones (the Lucene
  *     delete-then-merge discipline; the [[DeletionVectors]]
  *     broadcast-cap rule bounds the read-time anti-join). Each
  *     tombstone row is a durable CLAIM `(cand_id, dl, src_writer,
  *     src_batch)`: the fold adds an id only if no earlier claim
  *     holds it (existing rows win, re-evaluated on every
  *     optimistic-concurrency rebase), and the (n, sumdl) decrement
  *     is derived FROM the committed claim — so a crash between the
  *     two delete commits replays exactly (the decrement re-derives
  *     from the surviving claim, never from a recomputed anti-join
  *     that would see its own tombstones), and two delete WRITERS
  *     racing on overlapping ids decrement each doc exactly once
  *     (the claim is the atomic "who owns this doc's decrement").
  *
  * == Query path (the 100 TB argument) ==
  *
  * A query reads `post/` through [[BucketedLog.readFor]] — ONLY the
  * buckets the query's terms hash to, a directory-pruned point
  * lookup, O(postings of those buckets) IO, never O(index). Document
  * frequency needs no third state: within the touched buckets every
  * present term's postings are COMPLETE (the bucket is a pure
  * function of the term), so `df` is an exact count over the slice.
  * Scoring/ranking reuses [[Retrieval.bm25Rank]] verbatim — the
  * stored-index answer is bit-identical to the from-scratch one.
  *
  * Reference anchor: the reference's read path is exactly this
  * stored-index discipline for time series — persist once into
  * key-ordered storage, answer every query from a pruned scan of the
  * store (`/root/reference/marketdb-iteratee/src/main/scala/com/ergodicity/marketdb/iteratee/TimeSeriesEnumerator.scala:48-99`). */
final case class InvertedIndex(path: String, buckets: Int = 64,
    broadcastMaxRows: Long = Dedup.screenBroadcastMaxRows,
    withForward: Boolean = false) {

  private def postLog = BucketedLog(s"$path/post", Seq("term"), buckets)
  private def statsLog = BucketedLog(s"$path/stats", Seq("one"), 1)
  private def tombLog = BucketedLog(s"$path/tomb", Seq("cand_id"), 8)
  /** OPT-IN forward index — the postings TRANSPOSED, hash-keyed by
    * DOC id, so a doc's stored term vector is a point lookup. Powers
    * [[deleteByIds]] (delete with ids alone — no caller-supplied
    * text) and [[moreLikeThis]] (doc-as-query from the store). The
    * standard storage trade: ~2× index bytes for doc-keyed access;
    * off by default so text-only deployments pay nothing. */
  private def fwdLog = BucketedLog(s"$path/fwd", Seq("cand_id"), 32)

  def init(spark: SparkSession): Unit = {
    import spark.implicits._
    postLog.init(Seq.empty[(String, Long, Double, Long, Seq[Int])]
      .toDF("term", "cand_id", "dl", "tf", "positions"))
    statsLog.init(Seq.empty[(Int, Long, Long)].toDF("one", "n", "sumdl"))
    tombLog.init(Seq.empty[(Long, Long, String, Long)]
      .toDF("cand_id", "dl", "src_writer", "src_batch"))
    if (withForward)
      fwdLog.init(Seq.empty[(Long, String, Double, Long)]
        .toDF("cand_id", "term", "dl", "tf"))
  }

  /** Subtract un-purged tombstones from a postings slice — applied by
    * EVERY query path before df/scoring, so a tombstoned doc is
    * indistinguishable from one never ingested. The tombstone set is
    * bounded by deletes since the last [[purgeDeletes]]: broadcast
    * under the row cap, shuffle anti-join above (the
    * [[DeletionVectors]] discipline). Pre-tombstone stores (no
    * `tomb/` state) pass through untouched. */
  private def liveSlice(spark: SparkSession, slice: DataFrame): DataFrame = {
    // emptiness is a METADATA fact: a state with no live buckets has
    // no manifest entries — the common no-tombstones case costs one
    // driver FS read, zero data IO (queries on an undeleted-from
    // index pay nothing for the tombstone feature)
    val pending = tombLog.head(spark).exists(_.entries.nonEmpty)
    if (!pending) return slice
    // no checkpoint: the tombstone state is immutable parquet files,
    // so the count scans once and the anti-join re-scans the same
    // (tiny) files — one driver job cheaper than materializing first
    val tomb = tombLog.read(spark).select("cand_id")
    val n = tomb.count()
    if (n == 0L) slice
    else {
      val hinted = if (n <= broadcastMaxRows) broadcast(tomb) else tomb
      slice.join(hinted, Seq("cand_id"), "left_anti")
    }
  }

  /** Fold one ingest batch of documents into the index: POSITIONAL
    * postings of the batch's docs appended into the term-keyed log
    * as one immutable segment (positions make the store answer
    * phrase/proximity queries, the Lucene discipline), corpus stats
    * summed. Per-batch cost is O(batch postings + rows of buckets
    * whose segment lists fold this round) — amortized-flat in index
    * size, never O(index). Batch doc ids must be new (append-only
    * corpus); a crash-replayed batch is a no-op in both states by
    * its `#batch=` watermark. */
  def ingest(docs: DataFrame, idCol: String, textCol: String,
      batchId: Long): Unit =
    ingest(docs, idCol, textCol, batchId, writerId = "")

  /** [[ingest]] as a NAMED WRITER — N independent ingest streams
    * (each with its own batch-id sequence) share one index without
    * coordination: each stream's exactly-once guard is its own
    * `#txn.<writerId>=` watermark in BOTH states, and every commit
    * races through optimistic concurrency with rebase-on-loss (a
    * lost postings append re-appends against the new head — segment
    * rows are version-independent; a lost stats fold re-reads and
    * re-adds). Fence per stream with [[coveredTxn]]. */
  def ingest(docs: DataFrame, idCol: String, textCol: String,
      batchId: Long, writerId: String): Unit = {
    val postings = docs
      .select(col(idCol).as("cand_id"),
        TextFunctions.tokens(col(textCol)).as("toks"))
      .select(col("cand_id"), size(col("toks")).cast("double").as("dl"),
        posexplode(col("toks")).as(Seq("pos", "term")))
      .groupBy("term", "cand_id", "dl")
      .agg(sort_array(collect_list(col("pos"))).as("positions"))
      .withColumn("tf", size(col("positions")).cast("long"))
      .select("term", "cand_id", "dl", "tf", "positions")
    // default writer keeps the single-stream fail-fast contract;
    // named writers retry (concurrent streams race by design)
    if (writerId.isEmpty) postLog.appendBatch(postings, batchId)
    else BucketedLog.retrying() {
      postLog.appendBatch(postings, batchId, writerId)
    }
    if (withForward) {
      // the postings transposed + a zero-token SENTINEL row per
      // empty doc (term "", tf 0 — the tokenizer drops empties, so
      // "" can never collide with a real term): every ingested doc
      // has a doc-keyed presence, so deleteByIds can decrement
      // (n, sumdl) exactly even for docs with no postings. The
      // coalesce matches stats below: a NULL-text doc counts in n
      // with sumdl contribution 0, so it must get a sentinel too —
      // a bare `=== 0` is null for null text and would leave the doc
      // with neither postings nor a forward row, un-deletable by id
      // with its n contribution stuck. Committed AFTER postings,
      // BEFORE stats — coveredBatch (min post/stats) stays the sound
      // fence with fwd between the two
      val sentinels = docs
        .where(coalesce(TextFunctions.tokenCount(col(textCol)),
          lit(0)) === 0)
        .select(col(idCol).as("cand_id"), lit("").as("term"),
          lit(0.0).as("dl"), lit(0L).as("tf"))
      val fwdRows = postings.select("cand_id", "term", "dl", "tf")
        .unionByName(sentinels)
      if (writerId.isEmpty) fwdLog.appendBatch(fwdRows, batchId)
      else BucketedLog.retrying() {
        fwdLog.appendBatch(fwdRows, batchId, writerId)
      }
    }
    // one-row agg; the 1-bucket stats store needs no touched-set job
    // (BucketedLog's buckets==1 fast path), so this lineage runs once
    val stats = docs.agg(
      count(lit(1)).as("n"),
      coalesce(sum(TextFunctions.tokenCount(col(textCol)).cast("long")),
        lit(0L)).as("sumdl"))
      .select(lit(1).as("one"), col("n"), col("sumdl"))
    def addStats(cur: Option[DataFrame], b: DataFrame): DataFrame =
      cur.map(_.unionByName(b)).getOrElse(b).groupBy("one")
        .agg(sum("n").cast("long").as("n"),
          sum("sumdl").cast("long").as("sumdl"))
    if (writerId.isEmpty) statsLog.applyBatch(stats, batchId)(addStats)
    else BucketedLog.retrying() {
      statsLog.applyBatch(stats, batchId, writerId)(addStats)
    }
  }

  /** A named ingest stream's coverage receipt — the highest batch id
    * BOTH states have applied under ITS `#txn.<writerId>=` watermark
    * (postings commit first, so the min is the sound fence — the
    * [[coveredBatch]] argument per writer). */
  def coveredTxn(spark: SparkSession, writerId: String): Long = math.min(
    postLog.txnWatermark(spark, writerId),
    statsLog.txnWatermark(spark, writerId))

  /** DELETE documents from the index — the lifecycle step an
    * append-only postings store lacks: re-tokenize the doomed docs
    * (the caller supplies them; a term-keyed store cannot know a
    * doc's terms without them), then (1) purge their postings with a
    * touched-bucket maintenance rewrite ([[BucketedLog
    * .rewriteBuckets]] — only the buckets the docs' terms hash to,
    * O(doc terms + touched buckets), never O(index)), and (2) fold
    * the NEGATIVE (n, sumdl) into the stats row as the NAMED WRITER
    * `deletes` — the delete stream has its own batch-id sequence and
    * its own exactly-once txn watermark, independent of the ingest
    * stream's (the q238 multi-writer machinery in its natural
    * deployment). After a delete, queries answer the REDUCED corpus
    * exactly — df/N/avgdl all shrink, bit-identical to an index
    * never containing the docs. */
  def deleteDocs(docs: DataFrame, idCol: String, textCol: String,
      batchId: Long): Unit = {
    val ids = docs.select(col(idCol).as("__dead")).distinct()
      .localCheckpoint()
    val terms = docs
      .select(explode(array_distinct(
        TextFunctions.tokens(col(textCol)))).as("term"))
      .distinct()
      .localCheckpoint()
    val sparkSess = docs.sparkSession
    import sparkSess.implicits._
    val emptyPost = Seq.empty[(String, Long, Double, Long, Seq[Int])]
      .toDF("term", "cand_id", "dl", "tf", "positions")
    postLog.rewriteBuckets(terms) { (cur, _) =>
      cur.map(_.join(broadcast(ids),
          col("cand_id") === col("__dead"), "left_anti"))
        .getOrElse(emptyPost)
    }
    val negStats = docs.agg(
      (-count(lit(1))).as("n"),
      (-coalesce(sum(TextFunctions.tokenCount(col(textCol)).cast("long")),
        lit(0L))).as("sumdl"))
      .select(lit(1).as("one"), col("n"), col("sumdl"))
    statsLog.applyBatch(negStats, batchId,
      InvertedIndex.DefaultDeleteWriter)(addStatsFold)
  }

  /** CLAIM fold for the tombstone log: existing rows WIN, the batch
    * adds only ids no earlier claim holds. Re-evaluated against the
    * rebased head on every optimistic-concurrency retry, so of two
    * delete writers racing on one id, exactly one claim survives —
    * the claim is the atomic "who owns this doc's (n, sumdl)
    * decrement". */
  private def claimFold(cur: Option[DataFrame],
      b: DataFrame): DataFrame =
    cur.map(c => c.unionByName(
        b.join(c.select("cand_id"), Seq("cand_id"), "left_anti")))
      .getOrElse(b)

  private val addStatsFold: (Option[DataFrame], DataFrame) => DataFrame =
    (cur, b) => cur.map(_.unionByName(b)).getOrElse(b).groupBy("one")
      .agg(sum("n").cast("long").as("n"),
        sum("sumdl").cast("long").as("sumdl"))

  /** Commit the (n, sumdl) decrement a delete batch OWNS — derived
    * from its DURABLE claim rows, never recomputed against a live
    * tombstone set: a crash-replay re-reads the surviving claim and
    * decrements exactly once (a recomputed anti-join would see the
    * batch's own tombstones and decrement zero — the watermark would
    * then advance with the stats permanently inflated). The claim is
    * bounded by the batch; [[purgeDeletes]] keeps uncovered claims
    * alive precisely so this re-derivation always has its rows. */
  private def commitClaimedStats(spark: SparkSession, writerId: String,
      batchId: Long): Unit = {
    val claimed = tombLog.read(spark)
      .where(col("src_writer") === writerId &&
        col("src_batch") === batchId)
      .localCheckpoint()
    val negStats = claimed.agg(
      (-count(lit(1))).as("n"),
      (-coalesce(sum(col("dl")), lit(0L))).as("sumdl"))
      .select(lit(1).as("one"), col("n"), col("sumdl"))
    BucketedLog.retrying() {
      statsLog.applyBatch(negStats, batchId, writerId)(addStatsFold)
    }
  }

  /** DEFERRED (tombstoned) DELETE — the merge-on-read dual of
    * [[deleteDocs]]'s eager purge, and the shape a 100 TB deployment
    * actually wants: the eager path's touched-bucket rewrite hits
    * every bucket the doomed docs' terms hash to (~O(index) per
    * delete batch for Zipfian text — the same amplification the
    * segment commit removed from ingest), while this path commits
    * only (1) the doomed ids as tombstone CLAIMS — O(|batch|) rows
    * `(cand_id, dl, src_writer, src_batch)` added by [[claimFold]]
    * (existing claims win) — and (2) the negative (n, sumdl) derived
    * FROM the committed claim, under the writer's own exactly-once
    * watermark. Every query subtracts the tombstone set before df,
    * so answers are bit-identical to an index never containing the
    * docs; the physical postings drop is deferred to ONE amortized
    * [[purgeDeletes]] pass (Lucene's delete-then-merge).
    *
    * Crash-replay safety (claim-first order): a crash between the
    * two commits leaves the claim durable and the stats mark behind;
    * the replay's claim commit is a no-op by the writer's tombstone
    * watermark, and [[commitClaimedStats]] re-derives the exact
    * decrement from the surviving claim rows. Cross-batch repeat
    * safety: a later batch re-deleting an already-tombstoned doc
    * claims nothing for it — stats-neutral. Concurrent-writer
    * safety: two named delete streams racing on overlapping ids
    * rebase through [[claimFold]], so exactly one stream's claim
    * (hence exactly one decrement) survives per doc. Both commits
    * ride [[BucketedLog.retrying]] — a delete racing a concurrent
    * ingest (the q251 deployment) rebases instead of dying.
    * Residual caller contract: each doc must currently exist LIVE
    * in the index (deleting a never-ingested or already-purged doc
    * still skews stats — the store cannot know a doc's existence
    * without reading every posting bucket; [[deleteByIds]] enforces
    * existence from the forward state instead). */
  def deleteDocsDeferred(docs: DataFrame, idCol: String,
      textCol: String, batchId: Long): Unit =
    deleteDocsDeferred(docs, idCol, textCol, batchId,
      writerId = InvertedIndex.DefaultDeleteWriter)

  /** [[deleteDocsDeferred]] as a NAMED delete stream: N independent
    * delete feeds (GDPR erasure, TTL expiry, …), each with its own
    * batch-id sequence, share one index without coordination — each
    * stream's exactly-once guard is its own `#txn.<writerId>=`
    * watermark in BOTH the tombstone and stats states, and
    * overlapping ids across streams decrement exactly once (the
    * [[claimFold]] argument). `writerId` must not collide with any
    * INGEST stream's writer id (both mark the one stats state).
    * Fence per stream with [[coveredDeletes(spark:org\.apache\.spark\.sql\.SparkSession,writerId:String)*]]. */
  def deleteDocsDeferred(docs: DataFrame, idCol: String,
      textCol: String, batchId: Long, writerId: String): Unit = {
    require(writerId.nonEmpty, "deleteDocsDeferred: empty writerId")
    val spark = docs.sparkSession
    // replay fast-path: when BOTH states already carry this batch,
    // skip the claim derivation entirely — the screens inside
    // applyBatch would no-op anyway, but only after paying the jobs
    if (tombLog.txnWatermark(spark, writerId) >= batchId &&
        statsLog.txnWatermark(spark, writerId) >= batchId) return
    // O(|batch|) rows behind a tokenize pass — checkpointed so the
    // claim commit's touched-set job + write (and any rebase retries)
    // read materialized rows instead of re-tokenizing per evaluation
    val tagged = docs.select(col(idCol).cast("long").as("cand_id"),
        coalesce(TextFunctions.tokenCount(col(textCol)).cast("long"),
          lit(0L)).as("dl"))
      .dropDuplicates("cand_id")
      .withColumn("src_writer", lit(writerId))
      .withColumn("src_batch", lit(batchId))
      .localCheckpoint()
    BucketedLog.retrying() {
      tombLog.applyBatch(tagged, batchId, writerId)(claimFold)
    }
    commitClaimedStats(spark, writerId, batchId)
  }

  /** DELETE BY ID — [[deleteDocsDeferred]] without caller-supplied
    * text: the erasure-request shape (a deployment holds doomed doc
    * IDS, not their text). Requires `withForward`: the doc-keyed
    * forward slice supplies each id's stored (dl) for the exact
    * (n, sumdl) decrement — a doc-id point lookup
    * ([[BucketedLog.readFor]]), O(ids' buckets) IO. Ids NOT in the
    * store (never ingested, or already purged) are naturally absent
    * from the slice and are skipped — the caller contract
    * [[deleteDocsDeferred]] needs ("doc must currently exist live")
    * is ENFORCED here, not assumed. Claim/replay/concurrency
    * semantics are [[deleteDocsDeferred]]'s verbatim (same claim
    * fold, same claim-derived decrement). */
  def deleteByIds(ids: DataFrame, idCol: String, batchId: Long): Unit =
    deleteByIds(ids, idCol, batchId,
      writerId = InvertedIndex.DefaultDeleteWriter)

  /** [[deleteByIds]] as a NAMED delete stream — see the named
    * [[deleteDocsDeferred]] overload for the multi-stream
    * contract. */
  def deleteByIds(ids: DataFrame, idCol: String, batchId: Long,
      writerId: String): Unit = {
    require(withForward,
      "deleteByIds needs withForward = true (the doc-keyed state)")
    require(writerId.nonEmpty, "deleteByIds: empty writerId")
    val spark = ids.sparkSession
    // replay fast-path — see [[deleteDocsDeferred]]'s guard
    if (tombLog.txnWatermark(spark, writerId) >= batchId &&
        statsLog.txnWatermark(spark, writerId) >= batchId) return
    val keys = ids.select(col(idCol).cast("long").as("cand_id")).distinct()
    val slice = fwdLog.readFor(keys)
      .join(broadcast(keys), Seq("cand_id"), "left_semi")
    // one claim row per EXISTING doomed doc: dl is a per-doc constant
    // (exact integer-valued double — cast back is exact); checkpointed
    // because the claim commit's retry loop re-evaluates its batch
    // while concurrent fwd commits may supersede the slice's lineage
    val tagged = slice.groupBy("cand_id")
      .agg(max(col("dl")).cast("long").as("dl"))
      .withColumn("src_writer", lit(writerId))
      .withColumn("src_batch", lit(batchId))
      .localCheckpoint()
    BucketedLog.retrying() {
      tombLog.applyBatch(tagged, batchId, writerId)(claimFold)
    }
    commitClaimedStats(spark, writerId, batchId)
  }

  /** MORE-LIKE-THIS FROM THE STORE — doc-as-query BM25 where the
    * query doc's term vector comes from the FORWARD slice (a doc-id
    * point lookup), never from re-tokenizing text: the stored form
    * of [[Retrieval.bm25TopK]]'s `excludeSelf` mode. Output/scoring
    * contract identical to [[bm25TopK]] with the doc as the one
    * query. Requires `withForward`. */
  def moreLikeThis(spark: SparkSession, docId: Long, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(withForward,
      "moreLikeThis needs withForward = true (the doc-keyed state)")
    require(k >= 1, s"k must be positive: $k")
    import spark.implicits._
    val qTerms = fwdLog.readForValues(spark, Seq(docId))
      .where(col("cand_id") === docId && col("tf") > 0L)
      .select(lit(docId).as("query_id"), col("term"))
      .localCheckpoint()
    val slice = liveSlice(spark, postLog.readFor(qTerms.select("term")))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
    val stats = statsLog.read(spark)
      .select(col("n").cast("double").as("__n"),
        col("sumdl").cast("double").as("__sumdl"))
    Retrieval.bm25Rank(slice, qTerms, stats, k, k1, b, excludeSelf = true)
  }

  /** TARGETED REPAIR — rebuild exactly `terms`' postings from a
    * reference corpus: the fix path [[audit]]'s per-term divergence
    * report points at. A touched-bucket maintenance rewrite
    * ([[BucketedLog.rewriteBuckets]] — only the buckets the affected
    * terms hash to, O(corpus tokenize + touched buckets), never a
    * whole-index rebuild): the affected terms' stored rows are
    * replaced by corpus-true postings (positions included — the full
    * stored shape), co-bucketed OTHER terms' rows carry verbatim,
    * and missing/phantom/drifted pairs all converge (a term the
    * corpus lacks repairs to ABSENT). Corpus stats are untouched —
    * postings-side rot does not skew (n, sumdl); a stats divergence
    * is a different failure with a different fix ([[coveredBatch]]
    * fencing / re-fold). `terms` must be bounded (its buckets are
    * collected — the audit's divergent-term set, not a vocabulary). */
  def repairTerms(corpus: DataFrame, idCol: String, textCol: String,
      terms: DataFrame): Unit = {
    val keys = terms.select(col("term")).distinct().localCheckpoint()
    val want = corpus
      .select(col(idCol).as("cand_id"),
        TextFunctions.tokens(col(textCol)).as("toks"))
      .select(col("cand_id"), size(col("toks")).cast("double").as("dl"),
        posexplode(col("toks")).as(Seq("pos", "term")))
      .join(broadcast(keys), Seq("term"), "left_semi")
      .groupBy("term", "cand_id", "dl")
      .agg(sort_array(collect_list(col("pos"))).as("positions"))
      .withColumn("tf", size(col("positions")).cast("long"))
      .select("term", "cand_id", "dl", "tf", "positions")
    postLog.rewriteBuckets(keys) { (cur, k) =>
      val keep = cur.map(_.join(broadcast(k), Seq("term"), "left_anti"))
      keep.map(_.unionByName(want)).getOrElse(want)
    }
  }

  /** The corpus-true FORWARD rows of `docs` — the postings
    * transposed per doc plus the zero-token sentinel, exactly as
    * [[ingest]] writes them (one derivation, shared by the audit's
    * `want` side and [[repairDocsForward]]'s replacement rows). */
  private def fwdRowsOf(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val pairs = docs
      .select(col(idCol).cast("long").as("cand_id"),
        TextFunctions.tokens(col(textCol)).as("toks"))
      .select(col("cand_id"), size(col("toks")).cast("double").as("dl"),
        explode(col("toks")).as("term"))
      .groupBy("cand_id", "term", "dl")
      .agg(count(lit(1)).cast("long").as("tf"))
    val sentinels = docs
      .where(coalesce(TextFunctions.tokenCount(col(textCol)),
        lit(0)) === 0)
      .select(col(idCol).cast("long").as("cand_id"), lit("").as("term"),
        lit(0.0).as("dl"), lit(0L).as("tf"))
    pairs.select("cand_id", "term", "dl", "tf").unionByName(sentinels)
  }

  /** FORWARD-STATE INTEGRITY AUDIT — [[audit]]'s full-outer compare
    * applied to the doc-keyed state: re-derive each doc's forward
    * rows (term vector + stored dl + zero-token sentinel) from
    * `corpus` and localize divergence per DOC — `n_missing` rows the
    * corpus implies and the store lacks, `n_phantom` rows the store
    * has and the corpus lacks, `n_drift` rows present in both with a
    * different tf OR dl. The dl check is the load-bearing one:
    * forward rot in a stored dl silently skews every
    * [[deleteByIds]] (n, sumdl) decrement and [[moreLikeThis]]
    * score, invisible to the postings [[audit]]. A healthy state
    * audits EMPTY; a divergence names exactly which DOCS to rebuild
    * ([[repairDocsForward]] — touched doc buckets only). Tombstones
    * are subtracted first, so an un-purged deferred delete audits as
    * absent. O(state + corpus tokenize) off-peak maintenance, like
    * [[audit]]. Requires `withForward`. */
  def auditForward(corpus: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    require(withForward,
      "auditForward needs withForward = true (the doc-keyed state)")
    val spark = corpus.sparkSession
    val want = fwdRowsOf(corpus, idCol, textCol)
      .select(col("cand_id"), col("term"),
        col("dl").as("__wdl"), col("tf").as("__wtf"))
    val have = liveSlice(spark, fwdLog.read(spark))
      .select(col("cand_id"), col("term"),
        col("dl").as("__hdl"), col("tf").cast("long").as("__htf"))
    want.join(have, Seq("cand_id", "term"), "full_outer")
      .groupBy("cand_id").agg(
        sum(when(col("__htf").isNull, 1L).otherwise(0L))
          .cast("long").as("n_missing"),
        sum(when(col("__wtf").isNull, 1L).otherwise(0L))
          .cast("long").as("n_phantom"),
        sum(when(col("__wtf").isNotNull && col("__htf").isNotNull &&
            (col("__wtf") =!= col("__htf") ||
              col("__wdl") =!= col("__hdl")), 1L).otherwise(0L))
          .cast("long").as("n_drift"))
      .where(col("n_missing") + col("n_phantom") + col("n_drift") > 0)
  }

  /** TARGETED FORWARD REPAIR — [[repairTerms]]' discipline on the
    * doc-keyed state: rebuild exactly `ids`' forward rows from a
    * reference corpus via a touched-bucket rewrite (only the buckets
    * the affected doc ids hash to; co-bucketed docs' rows carry
    * verbatim). Missing/phantom/drifted rows all converge — a doc
    * the corpus lacks repairs to ABSENT, a drifted stored dl snaps
    * back so later [[deleteByIds]] decrements are exact again. `ids`
    * must be bounded (the audit's divergent-doc set, column
    * `cand_id`). Requires `withForward`. */
  def repairDocsForward(corpus: DataFrame, idCol: String,
      textCol: String, ids: DataFrame): Unit = {
    require(withForward,
      "repairDocsForward needs withForward = true (the doc-keyed state)")
    val keys = ids.select(col("cand_id").cast("long").as("cand_id"))
      .distinct().localCheckpoint()
    val want = fwdRowsOf(
      corpus.join(broadcast(keys),
        corpus(idCol).cast("long") === keys("cand_id"), "left_semi"),
      idCol, textCol)
    fwdLog.rewriteBuckets(keys) { (cur, k) =>
      val keep = cur.map(_.join(broadcast(k), Seq("cand_id"), "left_anti"))
      keep.map(_.unionByName(want)).getOrElse(want)
    }
  }

  /** OPTIMIZE for deferred deletes: physically drop every tombstoned
    * doc's postings (one whole-store maintenance fold — a doc's
    * terms are unknown without its text, so the purge is O(index) BY
    * DESIGN and amortized over many O(|batch|) tombstone commits,
    * exactly like [[DeletionVectors.purge]] vs its O(|keys|)
    * deletes), then drain the tombstone log. Served answers are
    * bit-identical before and after — the purge trades read-time
    * anti-join work for storage hygiene, never answers. Crash-safe:
    * a crash between the two folds leaves tombstones whose postings
    * are already gone — the read-time anti-join of absent ids is a
    * no-op, and re-running the purge completes the drain. Concurrent-
    * delete-safe: the drain subtracts ONLY this purge's snapshot —
    * a [[deleteDocsDeferred]] committing between the snapshot and
    * the drain keeps its tombstones (its postings were not purged,
    * so they must stay subtracted at read time; the next purge gets
    * them). Draining unconditionally here would silently drop that
    * racer's tombstones and resurrect its docs — the one-snapshot
    * discipline of [[DeletionVectors.purge]], one level up. */
  def purgeDeletes(spark: SparkSession): Unit =
    purgeDeletes(spark, () => ())

  /** [[purgeDeletes]] with a deterministic interleave hook:
    * `beforeDrain` fires between the postings purge and the
    * tombstone drain — the exact window a concurrent
    * [[deleteDocsDeferred]] can land in, which the spec forces (the
    * q238 latch discipline). Production callers use the no-hook
    * overload. */
  private[graft] def purgeDeletes(spark: SparkSession,
      beforeDrain: () => Unit): Unit = {
    val tomb = tombLog.read(spark).localCheckpoint()
    val nTomb = tomb.count()
    if (nTomb == 0L) return
    val ids = tomb.select("cand_id")
    val hinted = if (nTomb <= broadcastMaxRows) broadcast(ids) else ids
    postLog.compactNow(spark)(cur =>
      cur.join(hinted, Seq("cand_id"), "left_anti"))
    // the forward rows go with their postings — otherwise a purged
    // doc would still be "found" by a later deleteByIds and its
    // stats decremented a second time
    if (withForward)
      fwdLog.compactNow(spark)(cur =>
        cur.join(hinted, Seq("cand_id"), "left_anti"))
    beforeDrain()
    // drain ONLY claims whose stats decrement is COVERED (the
    // claim's writer watermark has passed its batch): an uncovered
    // claim is a CRASHED delete's durable half — its replay derives
    // the exact (n, sumdl) decrement from these very rows
    // (commitClaimedStats), so draining it would lose the decrement
    // forever. Its postings/fwd rows were still purged above: the
    // read-time anti-join of absent ids is a no-op, and the next
    // purge drains the claim once covered. Snapshot-bounded as
    // before — a racer's claims landing after the snapshot are
    // never drained this pass.
    val writers = tomb.select("src_writer").distinct()
      .collect().map(_.getString(0))
    val marks = writers.map(w =>
      w -> statsLog.txnWatermark(spark, w)).toMap
    val coveredPred = writers.map(w =>
        col("src_writer") === w && col("src_batch") <= lit(marks(w)))
      .reduceOption(_ || _).getOrElse(lit(false))
    val drain = tomb.where(coveredPred).select("cand_id")
    val drainHinted =
      if (nTomb <= broadcastMaxRows) broadcast(drain) else drain
    tombLog.compactNow(spark)(cur =>
      cur.join(drainHinted, Seq("cand_id"), "left_anti"))
  }

  /** Un-purged tombstones (monitoring + spec pins). */
  def tombstoneCount(spark: SparkSession): Long =
    tombLog.head(spark).fold(0L)(_ => tombLog.read(spark).count())

  /** Segment-aware OPTIMIZE: collapse every segmented bucket's
    * segment list to ONE dir (the q232 discipline for [[BucketedLog
    * .appendBatch]] stores) — the postings state, and the forward
    * state with it when `withForward` (both accumulate segments per
    * ingest; a doc-keyed point lookup between folds otherwise unions
    * up to `compactAfter` dirs exactly like a term lookup). Ingest
    * amortizes folds at `compactAfter` segments/bucket, so reads
    * between folds union up to that many dirs per touched bucket; a
    * read-heavy deployment pre-pays those unions off-peak with this
    * one O(index) maintenance pass. Pure layout: answers are
    * bit-identical, the `#batch=`/`#txn.` replay guards are carried
    * unchanged, and a lost commit race throws loudly
    * ([[BucketedLog.compactNow]] semantics). */
  def optimizeSegments(spark: SparkSession): Unit = {
    postLog.compactNow(spark)(identity)
    if (withForward) fwdLog.compactNow(spark)(identity)
  }

  /** Segment dirs the CURRENT manifest references per postings bucket
    * (spec pin for [[optimizeSegments]]: exactly one dir/bucket after
    * the pass). */
  private[graft] def postingsSegmentCounts(
      spark: SparkSession): Map[Int, Int] =
    postLog.head(spark).fold(Map.empty[Int, Int])(
      _.entries.map { case (b, ds) => b -> ds.size })

  /** [[postingsSegmentCounts]] for the forward state. */
  private[graft] def fwdSegmentCounts(
      spark: SparkSession): Map[Int, Int] =
    fwdLog.head(spark).fold(Map.empty[Int, Int])(
      _.entries.map { case (b, ds) => b -> ds.size })

  /** The default delete stream's coverage receipt — see the named
    * overload. */
  def coveredDeletes(spark: SparkSession): Long =
    coveredDeletes(spark, InvertedIndex.DefaultDeleteWriter)

  /** A named DELETE stream's coverage receipt — the highest delete
    * batch id BOTH its states have applied under ITS
    * `#txn.<writerId>=` watermark: the tombstone claim commit and
    * the stats decrement. [[deleteDocsDeferred]] commits the claim
    * THEN stats, so the min is the sound fence (the [[coveredBatch]]
    * argument, applied per delete writer). */
  def coveredDeletes(spark: SparkSession, writerId: String): Long =
    math.min(
      tombLog.txnWatermark(spark, writerId),
      statsLog.txnWatermark(spark, writerId))

  /** INDEX INTEGRITY AUDIT — re-derive postings from `corpus` and
    * full-outer compare against the stored LIVE postings per
    * (term, cand_id), localizing divergence per TERM (the q229
    * divergence-localization discipline applied to search state):
    * `n_missing` pairs the corpus has and the store lacks,
    * `n_phantom` pairs the store has and the corpus lacks,
    * `n_drift` pairs present in both with different tf. A healthy
    * index audits EMPTY; a detected divergence names exactly which
    * terms to rebuild ([[deleteDocs]]/[[ingest]] on the affected
    * docs — touched buckets only), never the whole index. One
    * term-hash-partitioned full-outer join of two postings frames —
    * O(index + corpus tokenize) by design: this is the off-peak
    * maintenance audit a 100 TB deployment schedules, not a query.
    * Tombstones are subtracted first, so an un-purged deferred
    * delete audits as absent (exactly what queries serve). */
  def audit(corpus: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val spark = corpus.sparkSession
    val want = corpus
      .select(col(idCol).as("cand_id"),
        explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy("term", "cand_id")
      .agg(count(lit(1)).cast("long").as("__wtf"))
    val have = liveSlice(spark, postLog.read(spark))
      .select(col("term"), col("cand_id"),
        col("tf").cast("long").as("__htf"))
    want.join(have, Seq("term", "cand_id"), "full_outer")
      .groupBy("term").agg(
        sum(when(col("__htf").isNull, 1L).otherwise(0L))
          .cast("long").as("n_missing"),
        sum(when(col("__wtf").isNull, 1L).otherwise(0L))
          .cast("long").as("n_phantom"),
        sum(when(col("__wtf").isNotNull && col("__htf").isNotNull &&
            col("__wtf") =!= col("__htf"), 1L).otherwise(0L))
          .cast("long").as("n_drift"))
      .where(col("n_missing") + col("n_phantom") + col("n_drift") > 0)
  }

  /** Coverage receipt — the highest ingest batch id BOTH states have
    * applied (the q231 freshness-fence discipline). [[ingest]]
    * commits postings THEN stats, so the min is the sound fence: a
    * crash between the two leaves postings ahead, never claimed. */
  def coveredBatch(spark: SparkSession): Long = math.min(
    postLog.head(spark).fold(-1L)(_.lastBatch),
    statsLog.head(spark).fold(-1L)(_.lastBatch))

  /** Phrase-proximity ranking FROM THE STORE — docs containing BOTH
    * terms, ranked by minimum token-position distance (the feature
    * positional postings exist for; q221 is the from-scratch form).
    * Reads only the two terms' buckets ([[BucketedLog.readFor]]);
    * min-dist is shift-invariant, so the store's 0-based positions
    * match any tokenizer's numbering. Output `(doc_id, min_dist,
    * n_a, n_b, proximity, rank)`, rank 1..k by (min_dist, doc_id). */
  def proximityTopK(spark: SparkSession, termA: String, termB: String,
      k: Int): DataFrame = {
    import spark.implicits._
    val slice = liveSlice(spark,
      postLog.readForValues(spark, Seq(termA, termB)))
    def side(t: String, p: String) = slice.where(col("term") === t)
      .select(col("cand_id").as("doc_id"),
        explode(col("positions")).as(p))
    side(termA, "pa").join(side(termB, "pb"), Seq("doc_id"))
      .groupBy("doc_id")
      .agg(min(abs(col("pa") - col("pb"))).cast("long").as("min_dist"),
        countDistinct(col("pa")).cast("long").as("n_a"),
        countDistinct(col("pb")).cast("long").as("n_b"))
      .withColumn("proximity",
        lit(1.0) / (lit(1.0) + col("min_dist").cast("double")))
      .orderBy(col("min_dist"), col("doc_id")).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("min_dist"), col("doc_id"))).cast("long"))
  }

  /** The query terms' postings, bucket-pruned, tombstone-subtracted,
    * filtered to the exact terms and memoized (the slice feeds the
    * df count plus one frame per term — never re-read the store per
    * consumer). */
  private[graft] def postingsSlice(spark: SparkSession,
      terms: Seq[String]): DataFrame = {
    import spark.implicits._
    liveSlice(spark, postLog.readForValues(spark, terms)
        .where(col("term").isin(terms: _*)))
      .select("term", "cand_id", "tf")
      .localCheckpoint()
  }

  /** Query terms with their EXACT document frequencies from the
    * store, sorted rarest-first — the walk order for
    * [[conjunctiveTopK]] (spec-pinned: intersection must start from
    * the rarest term's postings). df is exact within the readFor
    * slice because a term's postings live wholly in its bucket;
    * a term absent from the corpus carries df 0 (and sorting FIRST
    * empties the intersection immediately — the classic
    * document-at-a-time short-circuit). */
  private[graft] def conjunctionOrder(slice: DataFrame,
      terms: Seq[String]): Seq[(String, Long)] = {
    val dfs = slice.groupBy("term").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    terms.map(t => t -> dfs.getOrElse(t, 0L)).sortBy { case (t, d) => (d, t) }
  }

  /** CONJUNCTIVE (AND / multi-term filter) retrieval FROM THE STORE —
    * docs containing EVERY query term, the missing third of the
    * stored-search surface next to BM25 (OR semantics) and 2-term
    * proximity. The classic document-at-a-time walk: posting lists
    * intersect SMALLEST-FIRST — k−1 equi-joins ordered by ascending
    * df, so every join is bounded by the rarest list's (only-
    * shrinking) candidate set, never by a stopword's postings; a
    * groupBy-count formulation would shuffle ALL matched postings
    * including the most common term's. Reads only the query terms'
    * buckets ([[BucketedLog.readFor]]). Output `(doc_id, total_tf,
    * min_tf, rank)`, rank 1..k by (total_tf desc, doc_id) — exact
    * integer folds, no float rounding needed. */
  def conjunctiveTopK(spark: SparkSession, terms: Seq[String],
      k: Int): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    require(terms.nonEmpty && terms.distinct.size == terms.size,
      s"terms must be non-empty and distinct: $terms")
    val slice = postingsSlice(spark, terms)
    val ordered = conjunctionOrder(slice, terms)
    def posting(t: String, i: Int): DataFrame =
      slice.where(col("term") === t)
        .select(col("cand_id"), col("tf").as(s"tf_$i"))
    val seed = posting(ordered.head._1, 0)
    val joined = ordered.tail.zipWithIndex.foldLeft(seed) {
      case (acc, ((t, _), i)) => acc.join(posting(t, i + 1), Seq("cand_id"))
    }
    val tfCols = ordered.indices.map(i => col(s"tf_$i"))
    val minTf = if (tfCols.size == 1) tfCols.head else least(tfCols: _*)
    joined.select(col("cand_id").as("doc_id"),
        tfCols.reduce(_ + _).cast("long").as("total_tf"),
        minTf.cast("long").as("min_tf"))
      .orderBy(col("total_tf").desc, col("doc_id")).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("total_tf").desc, col("doc_id"))).cast("long"))
  }

  /** EXACT PHRASE retrieval FROM THE STORE — `terms` adjacent in
    * order (the quoted-string query), the positional-postings
    * feature [[proximityTopK]] generalizes to k terms with EXACT
    * adjacency: term i's positions are shifted by −i, so one phrase
    * occurrence is one shared ANCHOR position present in every
    * term's shifted list, and the intersection is the same
    * document-at-a-time walk as [[conjunctiveTopK]] — k−1 equi-joins
    * on (doc, anchor) ordered rarest-term-first, each bounded by the
    * rarest list's only-shrinking (doc, anchor) set. Repeated terms
    * in the phrase are legal (each INSTANCE joins at its own
    * offset). Reads only the phrase terms' buckets; anchors are
    * exact integers (0-based, the store's numbering; overlapping
    * occurrences each count). Output `(doc_id, n_occurrences,
    * first_pos, rank)`, rank 1..k by (n_occurrences desc, doc_id). */
  def phraseTopK(spark: SparkSession, terms: Seq[String],
      k: Int): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    require(terms.size >= 2, s"a phrase needs ≥2 terms: $terms")
    import spark.implicits._
    val slice = liveSlice(spark,
        postLog.readForValues(spark, terms.distinct)
          .where(col("term").isin(terms.distinct: _*)))
      .select("term", "cand_id", "positions")
      .localCheckpoint()
    val dfs = slice.groupBy("term").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // instance walk order: rarest term's instance first (ties by
    // phrase position) — an absent term (df 0) leads and empties
    // the intersection immediately
    val order = terms.indices.sortBy(i => (dfs.getOrElse(terms(i), 0L), i))
    // explode first, shift after (a generator cannot nest in an
    // expression, and a transform lambda would leave codegen)
    def anchors(i: Int): DataFrame = slice.where(col("term") === terms(i))
      .select(col("cand_id"), explode(col("positions")).as("__p"))
      .select(col("cand_id"), (col("__p") - lit(i)).as("anchor"))
    val joined = order.tail.foldLeft(anchors(order.head))((acc, i) =>
      acc.join(anchors(i), Seq("cand_id", "anchor")))
    joined.groupBy("cand_id")
      .agg(count(lit(1)).cast("long").as("n_occurrences"),
        min(col("anchor")).cast("long").as("first_pos"))
      .select(col("cand_id").as("doc_id"), col("n_occurrences"),
        col("first_pos"))
      .orderBy(col("n_occurrences").desc, col("doc_id")).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_occurrences").desc, col("doc_id")))
        .cast("long"))
  }

  /** Top-k BM25 per query, answered FROM THE STORE — same output
    * contract (and bit-identical scores) as [[Retrieval.bm25TopK]]
    * over the ingested corpus. */
  def bm25TopK(queries: DataFrame, idCol: String, textCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      excludeSelf: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    val qTerms = queries.select(col(idCol).as("query_id"),
      explode(array_distinct(TextFunctions.tokens(col(textCol))))
        .as("term"))
    // point lookup: only the buckets the query's terms hash to; df is
    // exact within the slice because a term's postings live WHOLLY in
    // its bucket — tombstones subtracted FIRST so df counts live docs
    val spark = queries.sparkSession
    val slice = liveSlice(spark, postLog.readFor(qTerms.select("term")))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
    val stats = statsLog.read(spark)
      .select(col("n").cast("double").as("__n"),
        col("sumdl").cast("double").as("__sumdl"))
    Retrieval.bm25Rank(slice, qTerms, stats, k, k1, b, excludeSelf)
  }

  /** TOP-K PRUNED BM25 (MaxScore) — the classic serving optimization
    * the stored index makes possible: per-term score UPPER BOUNDS
    * (`idf · max tf-weight`, derived from the term's own postings)
    * let document-at-a-time evaluation SKIP scoring postings of docs
    * that cannot enter the top-k (Turtle & Flood, "Query evaluation:
    * strategies and optimizations", IP&M 1995). Terms are walked in
    * descending bound order, accumulating exact partial scores; once
    * the remaining terms' summed bounds fall below the current k-th
    * best partial (minus [[InvertedIndex.PruneMargin]] — see its doc
    * for why the slack makes the 6-dp-rounded ranking provably
    * identical), every later term is NON-ESSENTIAL: a doc not yet
    * accumulated can never reach the top-k, so only postings matching
    * already-accumulated docs are scored. Candidates then re-rank
    * through [[Retrieval.bm25Rank]] verbatim (df from the FULL live
    * slice), so the answer is bit-identical to the unpruned
    * [[bm25TopK]] — the pruning is answer-invisible by construction.
    * Pruning is NOT guaranteed: the skip test runs only at geometric
    * window starts, so a flip can come up to one window late, and a
    * short query may prune nothing — then the SCORED count (walk plus
    * re-rank, which re-counts candidate postings) can equal or exceed
    * the unpruned total. The spec pins fewer scored postings only on
    * corpora whose flip lands at a window start.
    * Output `(doc_id, score, rank)`, rank 1..k by (score desc,
    * doc_id). */
  def bm25TopKPruned(spark: SparkSession, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25TopKPrunedReport(spark, terms, k, k1, b).result

  /** [[bm25TopKPruned]] with the pruning evidence: how many stored
    * postings were SCORED (selection walk + final re-rank) vs the
    * query terms' total postings, which the unpruned path scores in
    * full. */
  private[graft] def bm25TopKPrunedReport(spark: SparkSession,
      terms: Seq[String], k: Int, k1: Double = 1.2,
      b: Double = 0.75): PrunedBm25Report = {
    require(k >= 1, s"k must be positive: $k")
    require(terms.nonEmpty && terms.distinct.size == terms.size,
      s"terms must be non-empty and distinct: $terms")
    import spark.implicits._
    val emptyRes = Seq.empty[(Long, Double, Long)]
      .toDF("doc_id", "score", "rank")
    val st = statsLog.read(spark)
      .select(col("n").cast("long"), col("sumdl").cast("long"))
      .collect().headOption
    if (st.isEmpty || st.get.getLong(0) == 0L)
      return PrunedBm25Report(emptyRes, 0L, 0L)
    val n = st.get.getLong(0).toDouble
    val avgdl = st.get.getLong(1).toDouble / n
    // live postings of the query terms, df attached from the FULL
    // slice BEFORE any candidate restriction (df is a corpus fact,
    // not a candidate fact) — memoized: the walk reads it per term
    val slice = liveSlice(spark, postLog.readForValues(spark, terms)
        .where(col("term").isin(terms: _*)))
      .select("term", "cand_id", "dl", "tf")
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .localCheckpoint()
    val tfW = (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) +
        lit(b) * col("dl") / lit(avgdl)))
    val perTerm = slice.groupBy("term")
      .agg(count(lit(1)).as("df"), max(tfW).as("maxw"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val totalPostings = perTerm.values.map(_._1).sum
    val present = terms.filter(perTerm.contains)
    if (present.isEmpty) return PrunedBm25Report(emptyRes, 0L, 0L)
    def idfOf(t: String): Double = {
      val df = perTerm(t)._1.toDouble
      math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    }
    // walk order: per-term upper bound descending (ties by term) —
    // the suffix-sum of bounds is what the skip test compares
    val bounds = present.map(t => t -> idfOf(t) * perTerm(t)._2)
      .sortBy { case (t, u) => (-u, t) }
    val suffix = bounds.scanRight(0.0)(_._2 + _).toIndexedSeq
    // contributions of a RANGE of walked terms, idf derived in-plan
    // from the slice's df column (the same longs idfOf reads, so the
    // same doubles), pre-summed per doc — lets an essential window
    // merge several terms in one action and the non-essential tail
    // fold in one action (fold order inside the sum differs from the
    // sequential per-term adds by ~1e-15 noise, which the PruneMargin
    // and the final exact re-rank both absorb — partials here drive
    // candidate selection and θ only, never final scores)
    val idfCol = log(lit(1.0) +
      (lit(n) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    def contribAgg(ts: Seq[String]): DataFrame =
      slice.where(col("term").isin(ts: _*))
        .select(col("cand_id"), (idfCol * tfW).as("__c"))
        .groupBy("cand_id")
        .agg(sum(col("__c")).as("__c"),
          count(lit(1)).cast("long").as("__m"))
    var scored = perTerm(bounds.head._1)._1
    var acc = contribAgg(Seq(bounds.head._1))
      .select(col("cand_id"), col("__c").as("__partial"))
      .localCheckpoint()
    // GEOMETRIC depth windows (round-18): θ is re-evaluated at window
    // STARTS and each essential window merges its whole term range in
    // ONE action, so the driver loop runs O(log #terms) actions
    // instead of one per term — the skip test fires (only) at window
    // boundaries, which can delay a flip by at most the window width:
    // less pruning, possibly none, never a changed answer (every candidate
    // still enters during a full-outer merge and re-ranks exactly).
    // Once a window start IS non-essential, every later term is too
    // (θ only grows, the suffix only shrinks), so the ENTIRE
    // remaining tail folds in one aggregated left join — the per-term
    // tail loop the round-17 shape still paid is gone.
    var i = 1
    var width = 1
    var done = false
    while (i < bounds.size && !done) {
      val iEnd = math.min(i + width - 1, bounds.size - 1)
      // θ: the k-th best accumulated partial — a LOWER bound on the
      // k-th best final score (partials only grow)
      val topk = acc.orderBy(col("__partial").desc).limit(k)
        .collect().map(_.getDouble(1))
      val theta =
        if (topk.length < k) Double.NegativeInfinity else topk.last
      if (suffix(i) < theta - InvertedIndex.PruneMargin) {
        // NON-ESSENTIAL: a doc first seen at or after term i is
        // bounded by suffix(i) < θ − margin — it cannot reach the
        // rounded top-k, and non-essential-ness is monotone, so the
        // whole remaining tail scores only postings of accumulated
        // docs, in one pass.
        val tail = bounds.drop(i).map(_._1)
        val joined = acc.join(contribAgg(tail), Seq("cand_id"), "left")
          .localCheckpoint()
        scored += joined.agg(coalesce(sum(col("__m")), lit(0L)))
          .head().getLong(0)
        acc = joined.select(col("cand_id"),
          (col("__partial") + coalesce(col("__c"), lit(0.0)))
            .as("__partial"))
        done = true
      } else {
        // ESSENTIAL window: full merge — every posting of every term
        // in [i, iEnd] scores
        val ts = bounds.slice(i, iEnd + 1).map(_._1)
        scored += ts.map(t => perTerm(t)._1).sum
        acc = acc.join(contribAgg(ts), Seq("cand_id"), "full_outer")
          .select(col("cand_id"),
            (coalesce(col("__partial"), lit(0.0)) +
              coalesce(col("__c"), lit(0.0))).as("__partial"))
          .localCheckpoint()
        i = iEnd + 1
        width *= 2
      }
    }
    // exact re-rank of the candidates through the ONE shared formula
    // — bit-identical scores/ranks to the unpruned path (candidates
    // are a superset of the true top-k by the bound argument)
    val candSlice = slice
      .join(acc.select("cand_id"), Seq("cand_id"), "left_semi")
      .localCheckpoint()
    scored += candSlice.count()
    val qTerms = present.toDF("term").withColumn("query_id", lit(0L))
    val statsDf = statsLog.read(spark)
      .select(col("n").cast("double").as("__n"),
        col("sumdl").cast("double").as("__sumdl"))
    val ranked = Retrieval.bm25Rank(candSlice, qTerms, statsDf, k, k1, b,
        excludeSelf = false)
      .select(col("cand_id").as("doc_id"), col("score"), col("rank"))
    PrunedBm25Report(ranked, scored, totalPostings)
  }

  /** BATCHED MaxScore — [[bm25TopKPruned]] for a whole `queries`
    * FRAME, the serving shape [[bm25TopK]] has and the single-query
    * walk lacked: per-query term bounds, walk order, suffix-of-bounds
    * and the evolving θ (k-th best accumulated partial) all live
    * INSIDE the plan as windows, so the driver loop runs over WALK
    * DEPTHS, never over queries — serving a thousand queries costs
    * the same handful of driver actions as one.
    *
    * Per depth, each still-walking query is either ESSENTIAL (its
    * remaining bound-sum could still lift a new doc into its top-k:
    * that one term's postings merge full-outer, all scored) or it
    * FLIPS non-essential — and because partials only grow while the
    * suffix only shrinks, a flipped query STAYS non-essential, so its
    * ENTIRE remaining tail folds in ONE aggregated left-join (only
    * postings matching already-accumulated docs are scored; the
    * skipped tail is exactly MaxScore's win). After
    * `MaxWalkDepth` depths any still-essential query bulk-folds its
    * tail full-outer (exact, merely unpruned) so driver actions stay
    * BOUNDED regardless of query length. The accumulated partials
    * are each candidate's EXACT score (see the in-body argument), so
    * the rounded ranking equals [[bm25TopK]]'s with no re-scoring
    * pass — the [[InvertedIndex.PruneMargin]] and hard-rule-9
    * rounding arguments together. As in [[bm25TopKPruned]], depths are
    * tested only at geometric window starts: a query can flip up to
    * one window late and may prune nothing, so fewer scored postings
    * is likely, not guaranteed. Output contract = [[bm25TopK]]:
    * `(query_id, cand_id, score, rank)`, rank 1..k per query by
    * (score desc, cand_id). */
  def bm25TopKPrunedBatch(queries: DataFrame, idCol: String,
      textCol: String, k: Int, k1: Double = 1.2, b: Double = 0.75,
      excludeSelf: Boolean = false): DataFrame =
    bm25TopKPrunedBatchReport(queries, idCol, textCol, k, k1, b,
      excludeSelf).result

  /** [[bm25TopKPrunedBatch]] with the pruning evidence (the
    * [[bm25TopKPrunedReport]] contract, summed over the batch). */
  private[graft] def bm25TopKPrunedBatchReport(queries: DataFrame,
      idCol: String, textCol: String, k: Int, k1: Double = 1.2,
      b: Double = 0.75, excludeSelf: Boolean = false): PrunedBm25Report = {
    require(k >= 1, s"k must be positive: $k")
    val spark = queries.sparkSession
    val qTerms = queries.select(col(idCol).as("query_id"),
        explode(array_distinct(TextFunctions.tokens(col(textCol))))
          .as("term"))
      .localCheckpoint()
    val st = statsLog.read(spark)
      .select(col("n").cast("long"), col("sumdl").cast("long"))
      .collect().headOption
    val n = st.fold(0L)(_.getLong(0)).toDouble
    val avgdl = if (n == 0) 1.0 else st.get.getLong(1).toDouble / n
    // live postings of the batch's terms, df from the FULL slice (a
    // corpus fact, attached before any candidate restriction)
    val slice = liveSlice(spark,
        postLog.readFor(qTerms.select("term")))
      .join(broadcast(qTerms.select("term").distinct()), Seq("term"),
        "left_semi")
      .select("term", "cand_id", "dl", "tf")
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .localCheckpoint()
    val statsDf = statsLog.read(spark)
      .select(col("n").cast("double").as("__n"),
        col("sumdl").cast("double").as("__sumdl"))
    def noSelf(df: DataFrame): DataFrame =
      if (excludeSelf) df.where(col("query_id") =!= col("cand_id"))
      else df
    val idfCol = log(lit(1.0) +
      (lit(n) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfW = (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) +
        lit(b) * col("dl") / lit(avgdl)))
    val contrib = slice.select(col("term"), col("cand_id"),
      (idfCol * tfW).as("__c"))
    // per-term bound u = idf · max tf-weight; per-query walk order
    // (u desc, term) with the suffix-of-bounds the skip test reads —
    // all window math, no driver term loop
    val perTerm = slice.groupBy("term")
      .agg(max(idfCol * tfW).as("__u"), count(lit(1)).as("__df"))
    val ranked0 = qTerms.join(perTerm, Seq("term"))
      .withColumn("r", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("__u").desc, col("term"))))
      .withColumn("suffix", sum("__u").over(Window.partitionBy("query_id")
        .orderBy("r")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .select("query_id", "term", "r", "suffix")
      .localCheckpoint()
    val totalPostings = qTerms.join(perTerm, Seq("term"))
      .agg(coalesce(sum("__df"), lit(0L))).head().getLong(0)
    val maxDepth = ranked0.agg(coalesce(max("r"), lit(0)))
      .head().getInt(0)
    if (maxDepth == 0)
      return PrunedBm25Report(Retrieval.bm25Rank(slice, qTerms, statsDf,
        k, k1, b, excludeSelf), 0L, 0L)
    def termsAt(active: DataFrame, pred: Column): DataFrame =
      active.where(pred).select("query_id", "term")
    // the still-walking query set lives on the DRIVER (bounded by the
    // query batch — the serving contract's small side): each depth's
    // flags come back in the same action that evaluates them, the
    // essential/flipped sides become broadcast LocalRelations, and
    // the old per-depth `active` checkpoint disappears entirely —
    // 2 driver actions per depth (flags collect + accumulator
    // checkpoint) instead of 4
    val qidField = org.apache.spark.sql.types.StructField("query_id",
      qTerms.schema("query_id").dataType)
    def idsDf(ids: Seq[Any]): DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(
        ids.map(org.apache.spark.sql.Row(_)): _*),
      org.apache.spark.sql.types.StructType(Seq(qidField)))
    // depth 1 seeds every query: all postings of its top-bound term
    var acc = noSelf(contrib
        .join(termsAt(ranked0, col("r") === 1), Seq("term")))
      .select(col("query_id"), col("cand_id"),
        col("__c").as("__partial"), lit(1L).as("__ns"))
      .localCheckpoint()
    // queries absent from a depth's flags have no row at that depth —
    // r is a dense per-query row_number, so absent at d means absent
    // at every deeper depth and dropping them mirrors the old
    // `active.where(r > d)` pruning exactly. None = all alive (first
    // depth needs no filter: every query with a row at r=2 is alive)
    var aliveDf: Option[DataFrame] = None
    // GEOMETRIC depth windows (round-18, mirroring the single-query
    // walk): each iteration handles depths [d, dEnd] with the window
    // width doubling, so the driver loop runs O(log maxDepth)
    // iterations instead of one per depth — the flags at the window's
    // START decide each query (its suffix there bounds everything
    // deeper), an essential query full-merges its whole window in the
    // one grouped `adds` pass (a doc contributes the sum of its
    // matched window terms — same rows, same exactness argument), and
    // a flip can arrive at most a window late: less pruning, possibly
    // none, never a changed answer.
    var d = 2
    var width = 1
    var stillEssential = true
    while (d <= maxDepth && stillEssential) {
      val dEnd = math.min(d + width - 1, maxDepth)
      // θ per query: the k-th best accumulated partial — a lower
      // bound on its k-th best final score (partials only grow)
      val theta = acc.withColumn("__rn",
          row_number().over(Window.partitionBy("query_id")
            .orderBy(col("__partial").desc, col("cand_id"))))
        .where(col("__rn") === k)
        .select(col("query_id"), col("__partial").as("__theta"))
      val flagRows = aliveDf.foldLeft(ranked0)((r, a) =>
          r.join(broadcast(a), Seq("query_id"), "left_semi"))
        .where(col("r") === d)
        .join(theta, Seq("query_id"), "left")
        .withColumn("__ess",
          col("__theta").isNull || col("suffix") >=
            col("__theta") - lit(InvertedIndex.PruneMargin))
        .select("query_id", "__ess").collect()
      val essQ = idsDf(flagRows.filter(_.getBoolean(1)).map(_.get(0))
        .toSeq)
      val flipQ = idsDf(flagRows.filterNot(_.getBoolean(1)).map(_.get(0))
        .toSeq)
      val nEss = flagRows.count(_.getBoolean(1)).toLong
      val bulk = d >= InvertedIndex.MaxWalkDepth
      // essential queries: this WINDOW's terms, full merge — or, past
      // the depth cap, their whole remaining tail (exact, just
      // unpruned — bounds the driver loop for arbitrarily long
      // queries; with geometric windows the cap is reached in
      // O(log MaxWalkDepth) iterations)
      val essPred = if (bulk) col("r") >= d
        else col("r") >= d && col("r") <= dEnd
      val stepRaw = noSelf(contrib.join(
        termsAt(ranked0.join(broadcast(essQ), Seq("query_id"),
          "left_semi"), essPred), Seq("term")))
      // flipped queries STAY non-essential (θ only grows, suffix only
      // shrinks): fold their ENTIRE tail at once, scoring only
      // postings of already-accumulated docs
      val tailRaw = noSelf(contrib.join(
        termsAt(ranked0.join(broadcast(flipQ), Seq("query_id"),
          "left_semi"), col("r") >= d), Seq("term")))
        .join(acc.select("query_id", "cand_id"),
          Seq("query_id", "cand_id"), "left_semi")
      // the pruning evidence (postings scored) rides the accumulator
      // as a cumulative per-row count (`__ns`) instead of two extra
      // count() actions per depth — no contribution is ever dropped
      // (stepRaw rows are kept by __keep, tailRaw rows are left-semi
      // bound to accumulated docs), so one final sum reproduces the
      // old per-depth tally exactly, at 2 fewer driver jobs per depth
      val adds = stepRaw.withColumn("__keep", lit(true))
        .unionByName(tailRaw.withColumn("__keep", lit(false)))
        .groupBy("query_id", "cand_id")
        .agg(sum("__c").as("__c"), max("__keep").as("__keep"),
          count(lit(1)).cast("long").as("__n"))
      acc = acc.join(adds, Seq("query_id", "cand_id"), "full_outer")
        .where(col("__partial").isNotNull || col("__keep"))
        .select(col("query_id"), col("cand_id"),
          (coalesce(col("__partial"), lit(0.0)) +
            coalesce(col("__c"), lit(0.0))).as("__partial"),
          (coalesce(col("__ns"), lit(0L)) +
            coalesce(col("__n"), lit(0L))).as("__ns"))
        .localCheckpoint()
      aliveDf = Some(essQ)
      stillEssential = nEss > 0 && !bulk
      d = dEnd + 1
      width *= 2
    }
    // the accumulated partials ARE each candidate's exact score:
    // non-essential-ness is monotone (θ only grows, the suffix only
    // shrinks), so every accumulated doc entered during the
    // essential prefix — where merges are full-outer — and collected
    // every later matched contribution through the left-join tails;
    // a doc that never entered scores < θ − margin and cannot reach
    // the rounded top-k (the PruneMargin argument). The walk sums a
    // doc's terms in a fixed depth order while the unpruned path's
    // hash aggregate folds in partition order — they differ by fold
    // noise (~1e-15/op), which round(·, 6) absorbs (hard-rule-9's
    // standard argument), so no re-scoring pass is needed: ranks are
    // identical to [[bm25TopK]]'s under the same (score desc,
    // cand_id) window.
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("cand_id"))
    val result = acc.select(col("query_id"), col("cand_id"),
        round(col("__partial"), 6).as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
    val scored = acc.agg(coalesce(sum("__ns"), lit(0L)))
      .head().getLong(0)
    PrunedBm25Report(result, scored, totalPostings)
  }
}

/** [[InvertedIndex.bm25TopKPruned]]'s answer plus pruning evidence:
  * `scoredPostings` (selection walk + final re-rank) vs
  * `totalPostings` (what the unpruned path scores). */
final case class PrunedBm25Report(result: DataFrame,
    scoredPostings: Long, totalPostings: Long)

object InvertedIndex {
  /** Writer id of the default delete stream — deployments with one
    * delete feed never name it. Named delete streams (GDPR erasure
    * vs TTL expiry, each with its own batch-id sequence) pass their
    * own ids and must not collide with any ingest writer id. */
  val DefaultDeleteWriter: String = "deletes"

  /** Driver-action bound for [[bm25TopKPrunedBatch]]'s depth loop:
    * past this depth any still-essential query bulk-folds its whole
    * remaining tail in one commit-free full-outer pass — exact,
    * merely unpruned, so a pathological query (every term equally
    * rare, θ never separating) costs bounded driver round-trips
    * instead of one per term. Real BM25 walks flip non-essential
    * far earlier (rare terms lead, stopword bounds collapse). */
  private[operators] val MaxWalkDepth: Int = 16

  /** Safety slack for the MaxScore skip test, `suffix < θ − margin`.
    * Scores rank after `round(·, 6)` (hard rule 9), so a skipped doc
    * whose true score trails the k-th best by under 1 ulp-of-6dp
    * could still TIE it after rounding and outrank it by id. A gap
    * > 2·10⁻⁶ guarantees the rounded scores differ strictly
    * (|round(x)−x| ≤ 5·10⁻⁷ each side); 4·10⁻⁶ doubles that and
    * swamps double-precision fold noise (~10⁻¹⁵ per op) — the cost
    * is only marginally less pruning, never a changed answer. */
  private[operators] val PruneMargin: Double = 4e-6
}
