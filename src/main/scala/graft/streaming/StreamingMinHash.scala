package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming MinHash near-dup detection — the batch LSH-banded Broder
  * estimator (`graft.operators.Dedup.minhashJaccardEstimate`)
  * re-expressed as stateful stream processing, completing the
  * streaming dedup family next to [[StreamingNearDup]] (Hamming
  * semantics): this one screens arriving documents by ESTIMATED
  * JACCARD, the similarity measure production corpus dedup thresholds
  * on.
  *
  * Shape: per-row MinHash signature (pure function of the text, no
  * shuffle) → explode to (band, band-signature) keys →
  * `flatMapGroupsWithState` keyed by bucket; a new doc emits an
  * estimated pair for every stored signature agreeing on ≥ `minAgree`
  * components. Pairs surface within AND across micro-batches.
  *
  * Semantics: at-least-once per pair (once per agreeing band), exactly
  * like [[StreamingNearDup.pairs]] — compact downstream with
  * `dropDuplicates(doc_a, doc_b)`. State bounds: `stateCap` (FIFO per
  * bucket) and [[pairsEvicting]]'s watermark-driven timeout eviction
  * (the [[StreamingNearDup.pairsEvicting]] construction — identical
  * state/timeout mechanics, only the fingerprint differs).
  *
  * Scale: state per bucket is its member list of fixed-width
  * signatures (nHashes × 8 hex chars); banding keeps buckets small
  * (SCALE.md), and no shingle set is ever stored or shipped — the
  * estimate needs only the two signatures (Broder '97).
  */
object StreamingMinHash {

  /** Scratch area for q114's AvailableNow replay (q95's pattern). */
  val scratchBase: String = "/tmp/graft_q114_minhash"

  final case class EstimatedPair(
      doc_a: Long, doc_b: Long, n_agree: Int, est_jaccard: Double)

  /** Pure-Scala twin of `Dedup.minhashSignatures`'s expression
    * pipeline (lowercase space tokens → word k-shingles → per shingle
    * one md5 per 4-component group, sliced into 8-hex components →
    * per-component min). Returns null for a doc with no shingles
    * (fewer than k tokens) — such docs produce no signature row in the
    * batch operator either. `StreamingMinHashSpec` asserts equality
    * against the Column formulation on real documents. */
  def signature(text: String, k: Int, nHashes: Int): Array[String] = {
    // Locale.ROOT: same reasoning as StreamingNearDup.simhash64
    val toks = text.toLowerCase(java.util.Locale.ROOT)
      .split(" ", -1).filter(_.nonEmpty)
    if (toks.length < k) return null
    val nGroups = (nHashes + 3) / 4
    val sig = new Array[String](nHashes)
    var i = 0
    while (i + k <= toks.length) {
      val sh = toks.slice(i, i + k).mkString(" ")
      var g = 0
      while (g < nGroups) {
        val h = graft.expressions.Md5Hash.hex(sh + g.toString)
        var j = 0
        while (j < 4) {
          val idx = g * 4 + j
          if (idx < nHashes) {
            // lexicographic min over lowercase-hex ASCII == UTF8String
            // binary min — the ordering the Spark aggregate uses
            val slice = h.substring(j * 8, j * 8 + 8)
            if (sig(idx) == null || slice.compareTo(sig(idx)) < 0) sig(idx) = slice
          }
          j += 1
        }
        g += 1
      }
      i += 1
    }
    sig
  }

  /** The agreement comparator both [[pairs]] and [[pairsEvicting]]
    * feed the shared [[BucketScreen]] machines: emit the Broder
    * estimate when ≥ `minAgree` signature components agree (self-pairs
    * never emit). */
  private def agreeCompare(nHashes: Int, minAgree: Int)(
      d0: Long, s0: Seq[String], doc: Long, sig: Seq[String]): Option[EstimatedPair] =
    if (d0 == doc) None
    else {
      var agree = 0
      var i = 0
      while (i < nHashes) {
        if (sig(i) == s0(i)) agree += 1
        i += 1
      }
      if (agree >= minAgree)
        Some(EstimatedPair(math.min(d0, doc), math.max(d0, doc),
          agree, agree.toDouble / nHashes))
      else None
    }

  /** Estimated-Jaccard near-dup pairs over a STREAMING frame of
    * (idCol: long-castable, textCol: string). Append-mode output; see
    * class doc for the at-least-once contract. `minAgree` filters
    * emitted pairs to ≥ minAgree agreeing components (estimated
    * J ≥ minAgree/nHashes); 0 emits every banded candidate, matching
    * the batch estimator's candidate set. */
  def pairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 2, nHashes: Int = 16, bandSize: Int = 4,
      minAgree: Int = 0, stateCap: Int = Int.MaxValue): Dataset[EstimatedPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(nHashes % bandSize == 0, "bandSize must divide nHashes")
    val nBands = nHashes / bandSize
    docs
      .select(col(idCol).cast("long").as("doc"), col(textCol).as("text"))
      // null text tokenizes to nothing in the batch operators — drop
      // here instead of NPE-ing in the signature function
      .where(col("text").isNotNull)
      .as[(Long, String)]
      .flatMap { case (doc, text) =>
        val sig = signature(text, k, nHashes)
        if (sig == null) Iterator.empty
        else (0 until nBands).iterator.map { b =>
          (b, sig.slice(b * bandSize, (b + 1) * bandSize).mkString("|"), doc, sig)
        }
      }
      .groupByKey { case (band, bv, _, _) => (band, bv) }
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: (Int, String), rows: Iterator[(Int, String, Long, Array[String])],
            state: GroupState[List[(Long, Seq[String])]]) => {
          val (seen, out) = BucketScreen.screen(
            rows.map { case (_, _, doc, sig) => (doc, sig.toSeq) },
            state.getOption.getOrElse(Nil), stateCap,
            agreeCompare(nHashes, minAgree))
          state.update(seen)
          out.iterator
        })
  }

  /** [[pairs]] with WATERMARK-DRIVEN STATE EVICTION — the
    * [[StreamingNearDup.pairsEvicting]] construction with the MinHash
    * signature in place of the 64-bit fingerprint; see that method's
    * scaladoc for the deadline/monotonicity/late-row semantics (all
    * identical): each bucket's timeout deadline is the max event time
    * in its history (carried in state, so out-of-order arrivals never
    * move it backwards) + `evictAfter`; once the watermark (`tsCol`
    * minus `watermarkDelay`) passes it in a trigger where the bucket is
    * idle, the bucket's state drops wholesale — and because a HOT
    * bucket never reaches the idle timeout, the window is ALSO
    * enforced per member on every invocation (members more than
    * `evictAfter` behind the bucket's max event time are pruned
    * before screening). Memory is bounded by arrival rate over the
    * eviction window, not stream length; pairs whose members are
    * further apart in event time than `evictAfter` are missed — the
    * recency trade, enforced for idle AND hot buckets. `stateCap`
    * composes (FIFO bound within the window). */
  def pairsEvicting(docs: DataFrame, idCol: String, textCol: String,
      tsCol: String, watermarkDelay: String, evictAfter: java.time.Duration,
      k: Int = 2, nHashes: Int = 16, bandSize: Int = 4,
      minAgree: Int = 0, stateCap: Int = Int.MaxValue): Dataset[EstimatedPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(nHashes % bandSize == 0, "bandSize must divide nHashes")
    require(evictAfter.toMillis > 0, s"evictAfter must be positive: $evictAfter")
    val nBands = nHashes / bandSize
    val evictMs = evictAfter.toMillis
    // the whole pre-state pipeline stays in DataFrame expressions
    // (signature via the codegen MinHashSignatureText wrapping the
    // SAME shared pure function — no per-row ScalaUDF converter
    // bridge): a typed flatMap here would mint fresh output attributes
    // and drop the event-time watermark tag the EventTimeTimeout
    // checker requires (same reasoning as StreamingNearDup)
    val bandStructs = (0 until nBands).map { b =>
      val keys = (b * bandSize until (b + 1) * bandSize).map(i => col("sig")(i))
      struct(lit(b).as("band"), concat_ws("|", keys: _*).as("bv"))
    }
    docs
      .select(col(idCol).cast("long").as("doc"), col(textCol).as("text"),
        col(tsCol).cast("timestamp").as("__ts"))
      // null text tokenizes to nothing in the batch operators; a doc
      // with fewer than k tokens has no signature (null expression)
      .where(col("text").isNotNull)
      .withWatermark("__ts", watermarkDelay)
      .withColumn("sig",
        graft.expressions.MinHashSignatureText(col("text"), k, nHashes))
      .where(col("sig").isNotNull)
      .select(col("doc"), col("sig"), col("__ts"),
        explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc"), col("sig"), col("__ts"),
        col("bb.band").as("band"), col("bb.bv").as("bv"))
      .as[(Long, Seq[String], java.sql.Timestamp, Int, String)]
      .groupByKey { case (_, _, _, band, bv) => (band, bv) }
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: (Int, String),
            rows: Iterator[(Long, Seq[String], java.sql.Timestamp, Int, String)],
            state: GroupState[(Long, List[(Long, Seq[String], Long)])]) =>
          // the one shared eviction machine — see BucketScreen
          BucketScreen.evictingStep(
            rows.map { case (doc, sig, ts, _, _) => (doc, sig, ts) }.toList,
            state, evictMs, stateCap, agreeCompare(nHashes, minAgree)))
  }
}
