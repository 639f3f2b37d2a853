package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming SimHash near-dup detection — the batch banded join
  * (`graft.operators.Dedup.simhashNearDup64`) re-expressed as stateful
  * stream processing, extending the reference's streaming ingest
  * surface (`marketdb-core/.../core/MarketDB.scala:139-168` is
  * point-ingest only; near-dup screening at ingest time is what a
  * corpus pipeline adds on top).
  *
  * Shape: per-row 64-bit fingerprint (pure function, no shuffle) →
  * explode to (band, band-value) keys → `flatMapGroupsWithState`
  * keyed by bucket. Each bucket's state is the (doc, sig) list seen so
  * far; a new doc emits a pair for every stored signature within
  * `maxHamming` — so pairs surface BOTH within and across
  * micro-batches, which a per-batch join cannot do.
  *
  * Semantics: at-least-once per pair — a pair agreeing on several
  * bands is emitted once per agreeing band (bucket states are
  * independent); compact downstream with `dropDuplicates(doc_a,
  * doc_b)` or the idempotent-sink pattern (`IngestPipeline`), exactly
  * like any at-least-once source.
  *
  * Scale: state per bucket is its member list — banding keeps buckets
  * ~n/2^bandBits (SCALE.md). Two production state bounds are provided:
  * [[pairs]]' `stateCap` (FIFO, bounds memory per bucket) and
  * [[pairsEvicting]]'s event-time timeout eviction (watermark-driven,
  * bounds state by recency — idle buckets are dropped wholesale once
  * the watermark passes their last arrival + `evictAfter`), each
  * trading cross-epoch recall for a hard bound.
  */
object StreamingNearDup {

  /** Scratch area for q113's AvailableNow replay (q95's pattern). */
  val scratchBase: String = "/tmp/graft_q113_neardup"

  final case class NearDupPair(doc_a: Long, doc_b: Long, hamming: Int)

  /** Pure-Scala twin of `Dedup.simhash64`'s expression pipeline
    * (lowercase, split on spaces, drop empties, md5 per token, 64
    * positional nibble-bit votes) — `StreamingNearDupSpec` asserts
    * fingerprint equality against the Column formulation. */
  def simhash64(text: String): Long = {
    val votes = new Array[Int](64)
    // Locale.ROOT: Spark's lower() lowercases ASCII locale-independently
    // (UTF8String fast path); default-locale toLowerCase would diverge
    // on e.g. tr-TR hosts ("INDEX" -> dotless-i "ındex")
    text.toLowerCase(java.util.Locale.ROOT).split(" ", -1).foreach { tok =>
      if (tok.nonEmpty) {
        val h = graft.expressions.Md5Hash.hex(tok)
        var b = 0
        while (b < 64) {
          val nib = Character.digit(h.charAt(b / 4), 16)
          votes(b) += (if ((nib & (8 >> (b % 4))) > 0) 1 else -1)
          b += 1
        }
      }
    }
    var sig = 0L
    var i = 0
    while (i < 64) {
      if (votes(i) > 0) sig |= (1L << (63 - i))
      i += 1
    }
    sig
  }

  /** The Hamming comparator both [[pairs]] and [[pairsEvicting]] feed
    * the shared [[BucketScreen]] machines: emit when the fingerprints
    * differ in at most `maxHamming` bits (self-pairs never emit). */
  private def hammingCompare(maxHamming: Int)(
      d0: Long, s0: Long, doc: Long, sig: Long): Option[NearDupPair] =
    if (d0 == doc) None
    else {
      val ham = java.lang.Long.bitCount(s0 ^ sig)
      if (ham <= maxHamming)
        Some(NearDupPair(math.min(d0, doc), math.max(d0, doc), ham))
      else None
    }

  /** Near-dup pairs over a STREAMING frame of (idCol: long-castable,
    * textCol: string). Append-mode output; see class doc for the
    * at-least-once contract.
    *
    * `stateCap` bounds each bucket's retained signatures to the most
    * recent N (FIFO eviction): memory per bucket becomes O(stateCap)
    * regardless of stream length, at the cost of missing pairs whose
    * members are more than stateCap bucket-arrivals apart — the
    * recency-window trade every unbounded-stream dedup makes
    * (default: unbounded, exact). */
  def pairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, stateCap: Int = Int.MaxValue): Dataset[NearDupPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val nBands = maxHamming + 1
    require(maxHamming >= 0 && 64 % nBands == 0,
      s"maxHamming + 1 must divide the 64-bit fingerprint: $maxHamming")
    val bandBits = 64 / nBands
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1
    docs
      .select(col(idCol).cast("long").as("doc"), col(textCol).as("text"))
      // null/all-space text yields no tokens in the batch operators
      // (explode drops the doc) — mirror that here instead of
      // fingerprinting an empty token bag (or NPE-ing on null)
      .where(col("text").isNotNull && trim(col("text")) =!= "")
      .as[(Long, String)]
      .flatMap { case (doc, text) =>
        val sig = simhash64(text)
        (0 until nBands).map(b =>
          (b, (sig >>> (b * bandBits)) & mask, doc, sig))
      }
      .groupByKey { case (band, bv, _, _) => (band, bv) }
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: (Int, Long), rows: Iterator[(Int, Long, Long, Long)],
            state: GroupState[List[(Long, Long)]]) => {
          val (seen, out) = BucketScreen.screen(
            rows.map { case (_, _, doc, sig) => (doc, sig) },
            state.getOption.getOrElse(Nil), stateCap, hammingCompare(maxHamming))
          state.update(seen)
          out.iterator
        })
  }

  /** [[pairs]] with WATERMARK-DRIVEN STATE EVICTION — the production
    * bound for an unbounded stream: each bucket's timeout is re-armed
    * to (max event time seen in the bucket's HISTORY, carried in the
    * state so out-of-order arrivals never move the deadline backwards)
    * + `evictAfter` on every
    * arrival, and once the query watermark (from `tsCol` minus
    * `watermarkDelay`) passes it, the bucket's state is dropped
    * wholesale. The idle timeout alone cannot bound a HOT bucket
    * (data every trigger always re-arms first), so the window is ALSO
    * enforced per member on every invocation: members more than
    * `evictAfter` behind the bucket's max observed event time are
    * pruned before screening (and an arrival that far behind screens
    * nothing; a null event time retains for a full window). Memory is
    * thereby bounded by the arrival RATE over the eviction window
    * rather than by stream length; pairs whose members are further
    * apart in event time than `evictAfter` (measured against the
    * bucket's max event time) are missed — the recency trade named in
    * the class doc, enforced for idle AND hot buckets
    * (`StreamingNearDupSpec`'s hot-bucket test). `stateCap` composes
    * (FIFO bound within the window). Uses `EventTimeTimeout`, so
    * eviction is deterministic under replay (driven by data, not wall
    * clock).
    *
    * Timeouts fire for a bucket on the first trigger AFTER the
    * watermark passes its deadline in which the bucket receives no
    * data — an arrival always re-arms first (timestamps are clamped
    * strictly past the current watermark, as the API requires).
    * Standard watermark semantics also apply on input: a row whose
    * event time does not exceed the current watermark (including the
    * initial watermark, epoch 0) is dropped as late and screens
    * nothing. */
  def pairsEvicting(docs: DataFrame, idCol: String, textCol: String,
      tsCol: String, watermarkDelay: String, evictAfter: java.time.Duration,
      maxHamming: Int = 3, stateCap: Int = Int.MaxValue): Dataset[NearDupPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val nBands = maxHamming + 1
    require(maxHamming >= 0 && 64 % nBands == 0,
      s"maxHamming + 1 must divide the 64-bit fingerprint: $maxHamming")
    require(evictAfter.toMillis > 0, s"evictAfter must be positive: $evictAfter")
    val bandBits = 64 / nBands
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1
    val evictMs = evictAfter.toMillis
    // the whole pre-state pipeline stays in DataFrame expressions
    // (fingerprint via the codegen SimHash64Text wrapping the SAME
    // shared pure function — no per-row ScalaUDF converter bridge): a
    // typed flatMap here would mint fresh output attributes and drop
    // the event-time watermark tag the EventTimeTimeout checker
    // requires on the stateful operator's child
    val bandStructs = (0 until nBands).map(b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("sig"), b * bandBits).bitwiseAND(lit(mask)).as("bv")))
    docs
      .select(col(idCol).cast("long").as("doc"), col(textCol).as("text"),
        col(tsCol).cast("timestamp").as("__ts"))
      // same null/empty-text semantics as the batch operators (and
      // pairs()): no tokens -> no fingerprint -> doc screens nothing
      .where(col("text").isNotNull && trim(col("text")) =!= "")
      .withWatermark("__ts", watermarkDelay)
      .withColumn("sig", graft.expressions.SimHash64Text(col("text")))
      .select(col("doc"), col("sig"), col("__ts"),
        explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc"), col("sig"), col("__ts"),
        col("bb.band").as("band"), col("bb.bv").as("bv"))
      .as[(Long, Long, java.sql.Timestamp, Int, Long)]
      .groupByKey { case (_, _, _, band, bv) => (band, bv) }
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: (Int, Long), rows: Iterator[(Long, Long, java.sql.Timestamp, Int, Long)],
            state: GroupState[(Long, List[(Long, Long, Long)])]) =>
          // deadline monotonicity, hot-bucket age prune, null-ts and
          // late-row handling all live in the ONE shared machine
          BucketScreen.evictingStep(
            rows.map { case (doc, sig, ts, _, _) => (doc, sig, ts) }.toList,
            state, evictMs, stateCap, hammingCompare(maxHamming)))
  }
}
