package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.streaming.BucketedLog

/** INCREMENTALLY-MAINTAINED TERM DICTIONARY — the autocomplete /
  * prefix-search sibling of [[InvertedIndex]]: a search box needs
  * "terms starting with `sc`, by document frequency" answered in
  * milliseconds, which a hash-bucketed postings store cannot do (a
  * prefix is a RANGE of terms, and hash bucketing scatters ranges
  * across every bucket).
  *
  * The state is one [[BucketedLog]] of `(pfx, term, df, cf)` rows
  * hash-keyed by `pfx` — the term's FIRST CHARACTER — so all terms
  * sharing a first letter co-locate in one bucket and a prefix query
  * is a [[BucketedLog.readFor]] point lookup on that letter:
  * O(one bucket's rows) IO, never O(vocabulary). The exact
  * `startswith` predicate runs as residual (the skipping-index
  * contract: layout buys IO, never answers). Counts are exact longs
  * folded additively per ingest batch (`df` = documents containing
  * the term, `cf` = total occurrences), replay-screened by the
  * `#batch=` watermark like every additive fold here; doc ids must
  * be new per batch (the append-only-corpus contract shared with
  * [[InvertedIndex.ingest]]).
  *
  * 100 TB shape: the dictionary is VOCABULARY-sized (millions of
  * rows for a 100 TB corpus — Heaps' law), itself trivially small;
  * what matters is (a) ingest folds only the batch's distinct terms'
  * buckets, O(batch vocabulary) per commit, and (b) a prefix lookup
  * reads one first-letter bucket, not the dictionary.
  *
  * Reference anchor: the reference resolves human-readable security
  * names through a persistent dictionary table consulted per lookup
  * (`/root/reference/marketdb-core/src/main/scala/com/ergodicity/marketdb/uid/UIDProvider.scala:41-80`);
  * this is the same name-resolution discipline keyed for prefix
  * ranges instead of exact names. */
final case class TermDictionary(path: String, buckets: Int = 32) {

  private def dictLog =
    BucketedLog(s"$path/dict", Seq("pfx"), buckets)
  /** Doc-id DELETE CLAIMS `(cand_id, src_writer, src_batch)` — the
    * [[InvertedIndex]] tombstone-claim discipline applied to the
    * dictionary: a delete batch first CLAIMS its newly-doomed ids
    * (existing claims win, re-evaluated on every rebase), then folds
    * the negative (df, cf) of exactly its claimed docs. The claim is
    * what makes cross-batch repeats and overlapping concurrent
    * delete writers decrement each doc exactly once, and what a
    * crash-replay re-derives its decrement from. Never read at
    * query time — lookups stay one-letter-bucket point reads. */
  private def delLog = BucketedLog(s"$path/del", Seq("cand_id"), 8)

  def init(spark: SparkSession): Unit = {
    import spark.implicits._
    dictLog.init(Seq.empty[(String, String, Long, Long)]
      .toDF("pfx", "term", "df", "cf"))
    delLog.init(Seq.empty[(Long, String, Long)]
      .toDF("cand_id", "src_writer", "src_batch"))
  }

  /** Fold one ingest batch's term counts into the dictionary —
    * O(batch vocabulary + touched first-letter buckets) per commit.
    * A crash-replayed batch is a no-op by the `#batch=` watermark
    * (the additive fold is NOT idempotent, so the screen is what
    * makes replays safe — the q199 argument). Rides
    * [[BucketedLog.retrying]]: a fold racing a concurrent
    * maintenance pass rebases instead of dying, symmetric with
    * every other ingest path here. */
  def ingest(docs: DataFrame, idCol: String, textCol: String,
      batchId: Long): Unit = {
    val counts = docs
      .select(col(idCol).as("__doc"),
        explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy("__doc", "term").agg(count(lit(1)).as("__tf"))
      .groupBy("term")
      .agg(count(lit(1)).cast("long").as("df"),
        sum("__tf").cast("long").as("cf"))
      .select(substring(col("term"), 1, 1).as("pfx"), col("term"),
        col("df"), col("cf"))
    BucketedLog.retrying()(dictLog.applyBatch(counts, batchId)(addCountsFold))
  }

  /** Shared additive (df, cf) fold; rows that reach zero on both
    * counts LEAVE the state (a fully-deleted term must vanish from
    * autocomplete, not rank last forever). */
  private val addCountsFold
      : (Option[DataFrame], DataFrame) => DataFrame =
    (cur, b) => cur.map(_.unionByName(b)).getOrElse(b)
      .groupBy("pfx", "term")
      .agg(sum("df").cast("long").as("df"),
        sum("cf").cast("long").as("cf"))
      .where(col("df") =!= 0L || col("cf") =!= 0L)

  /** DELETE documents from the dictionary — the lifecycle leg that
    * keeps autocomplete consistent with a deleted-from corpus: once
    * q252-class deletes flow on the index, a dictionary without this
    * fold would serve the UN-deleted (df, cf) forever. Two commits,
    * [[InvertedIndex.deleteDocsDeferred]]'s claim discipline
    * verbatim: (1) claim the newly-doomed ids in `del/` (existing
    * claims win — re-deleting an already-deleted doc, in any later
    * batch or any racing writer, claims nothing), then (2) fold the
    * NEGATIVE per-term (df, cf) of exactly the claimed docs' terms
    * into the dictionary, under the writer's own `#txn.<writerId>=`
    * watermark in both states. A crash between the commits replays
    * exactly: the claim self-screens, and the decrement re-derives
    * from the surviving claim joined to the caller's (re-supplied)
    * docs. O(batch vocabulary + touched buckets) per commit.
    * Caller contract as in the index: each doc must currently exist
    * in the dictionary-covered corpus, with the SAME text it was
    * ingested with. */
  def delete(docs: DataFrame, idCol: String, textCol: String,
      batchId: Long): Unit =
    delete(docs, idCol, textCol, batchId,
      InvertedIndex.DefaultDeleteWriter)

  /** [[delete]] as a NAMED delete stream (own batch-id sequence and
    * watermark; overlapping ids across streams decrement once). */
  def delete(docs: DataFrame, idCol: String, textCol: String,
      batchId: Long, writerId: String): Unit = {
    require(writerId.nonEmpty, "delete: empty writerId")
    val spark = docs.sparkSession
    // replay fast-path: both states already carry this batch
    if (delLog.txnWatermark(spark, writerId) >= batchId &&
        dictLog.txnWatermark(spark, writerId) >= batchId) return
    val tagged = docs.select(col(idCol).cast("long").as("cand_id"))
      .dropDuplicates("cand_id")
      .withColumn("src_writer", lit(writerId))
      .withColumn("src_batch", lit(batchId))
    BucketedLog.retrying() {
      delLog.applyBatch(tagged, batchId, writerId) { (cur, b) =>
        cur.map(c => c.unionByName(
            b.join(c.select("cand_id"), Seq("cand_id"), "left_anti")))
          .getOrElse(b)
      }
    }
    // the decrement this batch OWNS: its durable claim, joined back
    // to the caller's docs for the term counts (bounded by |batch|)
    val claimed = delLog.read(spark)
      .where(col("src_writer") === writerId &&
        col("src_batch") === batchId)
      .select("cand_id").localCheckpoint()
    val negCounts = docs
      .select(col(idCol).cast("long").as("cand_id"),
        explode(TextFunctions.tokens(col(textCol))).as("term"))
      .join(broadcast(claimed), Seq("cand_id"), "left_semi")
      .groupBy("cand_id", "term").agg(count(lit(1)).as("__tf"))
      .groupBy("term")
      .agg((-count(lit(1))).cast("long").as("df"),
        (-sum("__tf")).cast("long").as("cf"))
      .select(substring(col("term"), 1, 1).as("pfx"), col("term"),
        col("df"), col("cf"))
    BucketedLog.retrying() {
      dictLog.applyBatch(negCounts, batchId, writerId)(addCountsFold)
    }
  }

  /** Coverage receipt (`#batch=`) — the ingest freshness fence. */
  def coveredBatch(spark: SparkSession): Long =
    dictLog.head(spark).fold(-1L)(_.lastBatch)

  /** A delete stream's coverage receipt — min of its claim and
    * dictionary watermarks (claim commits first, so the min is the
    * sound fence). */
  def coveredDeletes(spark: SparkSession,
      writerId: String = InvertedIndex.DefaultDeleteWriter): Long =
    math.min(
      delLog.txnWatermark(spark, writerId),
      dictLog.txnWatermark(spark, writerId))

  /** Drop delete claims whose dictionary decrement is COVERED — the
    * amortized hygiene pass ([[InvertedIndex.purgeDeletes]]'s drain
    * discipline): uncovered claims are a crashed delete's durable
    * half and MUST survive (the replay derives its decrement from
    * them). After a claim is drained, re-deleting its doc falls back
    * to the caller contract (exists, same text) — exactly the
    * index's post-purge rule. */
  def purgeClaims(spark: SparkSession): Unit = {
    val claims = delLog.read(spark).localCheckpoint()
    val n = claims.count()
    if (n == 0L) return
    val writers = claims.select("src_writer").distinct()
      .collect().map(_.getString(0))
    val marks = writers.map(w =>
      w -> dictLog.txnWatermark(spark, w)).toMap
    val coveredPred = writers.map(w =>
        col("src_writer") === w && col("src_batch") <= lit(marks(w)))
      .reduceOption(_ || _).getOrElse(lit(false))
    val drain = claims.where(coveredPred).select("cand_id")
    val hinted = if (n <= Dedup.screenBroadcastMaxRows)
      broadcast(drain) else drain
    delLog.compactNow(spark)(cur =>
      cur.join(hinted, Seq("cand_id"), "left_anti"))
  }

  /** Un-drained delete claims (monitoring + spec pins). */
  def claimCount(spark: SparkSession): Long =
    delLog.read(spark).count()

  /** Top-k dictionary terms matching `prefix`, by (df desc, term) —
    * the autocomplete query. Reads ONLY the prefix's first-letter
    * bucket ([[BucketedLog.readFor]] directory prune); the exact
    * `startswith` is the residual. Output `(term, df, cf, rank)`,
    * rank 1..k; all-integer ranking, no float rounding needed. */
  def prefixTopK(spark: SparkSession, prefix: String,
      k: Int): DataFrame = {
    require(prefix.nonEmpty, "prefixTopK: empty prefix")
    require(k >= 1, s"k must be positive: $k")
    import spark.implicits._
    dictLog.readForValues(spark, Seq(prefix.substring(0, 1)))
      .where(col("term").startsWith(prefix))
      .select("term", "df", "cf")
      .orderBy(col("df").desc, col("term")).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("df").desc, col("term"))).cast("long"))
  }
}
