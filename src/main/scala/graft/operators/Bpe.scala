package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Distributed byte-pair-encoding tokenizer training (Sennrich et al.,
  * "Neural Machine Translation of Rare Words with Subword Units", ACL
  * 2016 — the GPT-2 training recipe): learn the top-k merge rules from
  * a corpus by repeatedly merging the most frequent adjacent symbol
  * pair.
  *
  * The scale trick is the WORD HISTOGRAM: pair counts over 100 TB of
  * text equal pair counts over the (word, freq) table, which is
  * vocabulary-sized (Heaps' law: ~1e6–1e7 distinct words for 1e11
  * tokens). So the corpus pays ONE tokenize+count shuffle, the
  * histogram is collected once (~hundreds of MB at web scale — driver
  * RAM, not driver CPU, is the binding constraint), and ALL k merge
  * iterations run as an in-memory incremental fold: per merge, only
  * the words CONTAINING the chosen pair are rewritten (inverted
  * pair→words index), and pair counts update by exact-long deltas.
  * k = 32k merges costs k argmax scans + Σ|affected| rewrites — no
  * per-merge Spark job (the previous formulation launched 2 jobs per
  * merge; at a real vocabulary size, per-job launch overhead — not
  * data — dominated).
  *
  * Determinism / oracle parity (q123): counts are exact longs (deltas
  * commute), the argmax tiebreak is (count desc, left asc, right asc)
  * over binary string order — a total order, so the scan result is
  * independent of hash-map iteration order; merge application is the
  * greedy LEFT-TO-RIGHT non-overlapping pass. DuckDB replays training
  * exactly ([[graft.catalog.TextDedup]]'s generated k-block SQL shares
  * these constants): in "aaa", merging (a,a) yields "aa"+"a", and only
  * a later (aa,a) rule could join them.
  *
  * Encoding runs DISTRIBUTED: the learned ranks broadcast (k rules —
  * KBs even at 32k) and each histogram word merges its own
  * lowest-rank-first pair loop ([[encodeWord]]) — equivalent to
  * applying the rules sequentially in order, because rule i was
  * learned before any symbol created by a rule j > i existed, so a
  * later merge can never enable an earlier rule. No k-deep expression
  * stack, no per-rule pass over the table.
  *
  * Reference capability anchor: marketdb has no text pipeline; this
  * extends the training-data operator family (SURVEY.md §2-adjacent,
  * like Dedup/Packing).
  */
object Bpe {

  /** Symbol separator the DuckDB twin uses inside its fold accumulator
    * (chr(1)) — a control char that cannot appear in a [a-z]+ word. */
  val SEP = "\u0001"

  /** (word, freq) histogram over lowercased [a-z]+ words — the one
    * corpus-sized pass. */
  def wordHistogram(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(split(lower(col(textCol)), "[^a-z]+")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** One greedy left-to-right non-overlapping pass of merge (l, r):
    * "aaa" + (a,a) -> ["aa", "a"] — the merged token never re-merges
    * within the same pass. */
  private[graft] def applyMergeLocal(syms: Array[String], l: String,
      r: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Max-heap priority for the argmax: (cnt desc, l asc, r asc) —
    * the identical total order the oracle's `ORDER BY cnt DESC, l, r
    * LIMIT 1` uses, so the heap's maximum IS the scan's maximum. */
  private val mergePriority: Ordering[(Long, String, String)] =
    new Ordering[(Long, String, String)] {
      def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
        if (a._1 != b._1) java.lang.Long.compare(a._1, b._1)
        else {
          val cl = b._2.compareTo(a._2) // smaller left = higher priority
          if (cl != 0) cl else b._3.compareTo(a._3)
        }
      }
    }

  /** In-memory incremental BPE train over a (word, freq) histogram:
    * k iterations of argmax + affected-word rewrite. The argmax is a
    * LAZY-INVALIDATION max-heap: every count change pushes a fresh
    * (cnt, l, r) snapshot, and pops discard snapshots whose count no
    * longer matches the live map — each pop is O(log #snapshots)
    * instead of an O(#pairs) scan per merge, which is what lets
    * k = 32k merges run against a ~1e7-pair web-scale histogram
    * (3e11 scan steps collapse to ~#delta·log pops). The result is
    * scan-identical: for every live pair its LATEST snapshot carries
    * the exact current count, so the first valid pop is the maximum
    * under the same (cnt desc, l, r) total order, independent of
    * hash-map iteration order. The pair→words index is append-only
    * (stale entries are harmless: rewriting a word that no longer
    * contains the pair is an exact no-op delta), the classic
    * learn-bpe structure. */
  private[graft] def trainLocal(hist: Array[(String, Long)], k: Int)
      : Seq[(Int, String, String, Long)] = {
    val words: Array[Array[String]] =
      hist.map(_._1.split("").filter(_.nonEmpty))
    val freqs: Array[Long] = hist.map(_._2)
    val counts = mutable.HashMap.empty[(String, String), Long]
    val where = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    val heap = mutable.PriorityQueue.empty[(Long, String, String)](mergePriority)

    def addPairs(i: Int, sign: Long, index: Boolean): Unit = {
      val s = words(i); var j = 0
      while (j < s.length - 1) {
        val p = (s(j), s(j + 1))
        val c = counts.getOrElse(p, 0L) + sign * freqs(i)
        if (c == 0L) counts.remove(p)
        else { counts.update(p, c); heap.enqueue((c, p._1, p._2)) }
        if (index) where.getOrElseUpdate(p, mutable.HashSet.empty) += i
        j += 1
      }
    }
    words.indices.foreach(addPairs(_, 1L, index = true))

    val merges = Vector.newBuilder[(Int, String, String, Long)]
    var it = 1
    while (it <= k) {
      require(counts.nonEmpty, s"corpus exhausted at iteration $it")
      var best: (Long, String, String) = null
      while (best == null) {
        val top = heap.dequeue()
        if (counts.getOrElse((top._2, top._3), 0L) == top._1) best = top
      }
      val (bc, bl, br) = best
      merges += ((it, bl, br, bc))
      val affected = where.getOrElse((bl, br), mutable.HashSet.empty)
      affected.foreach { i =>
        addPairs(i, -1L, index = false)
        words(i) = applyMergeLocal(words(i), bl, br)
        addPairs(i, 1L, index = true)
      }
      where.remove((bl, br))
      it += 1
    }
    merges.result()
  }

  /** Encode one word with the learned ranks: repeatedly merge the
    * LOWEST-RANK adjacent pair present (one greedy left-to-right pass
    * per chosen rule) until none applies — the GPT-2 encode loop,
    * equal to sequential rule application (see object scaladoc).
    * `rankToPair(rank - 1)` is the O(1) inverse lookup — a map scan
    * here would pay O(k) per merge step per word, which at k = 32k
    * over a web-scale histogram dominates encoding. */
  private[graft] def encodeWord(w: String,
      ranks: Map[(String, String), Int],
      rankToPair: Array[(String, String)]): Array[String] = {
    var syms = w.split("").filter(_.nonEmpty)
    var done = false
    while (!done && syms.length >= 2) {
      var best = Int.MaxValue; var j = 0
      while (j < syms.length - 1) {
        val rk = ranks.getOrElse((syms(j), syms(j + 1)), Int.MaxValue)
        if (rk < best) best = rk
        j += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        val (l, r) = rankToPair(best - 1)
        syms = applyMergeLocal(syms, l, r)
      }
    }
    syms
  }

  /** Train `k` merges; returns (it, left, right, cnt) — one row per
    * learned rule, it = 1-based iteration. One corpus shuffle + one
    * vocabulary-sized collect; zero per-merge jobs. */
  def trainMerges(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val hist = wordHistogram(docs, textCol)
      .select(col("w"), col("freq")).as[(String, Long)].collect()
    trainLocal(hist, k).toDF("it", "left", "right", "cnt")
      .withColumn("it", col("it").cast("long"))
  }

  /** Tokenize the corpus with the learned rules and emit the final
    * (token, cnt) table — cnt weighted by word frequency, i.e. the
    * corpus token histogram a tokenizer consumer sees. The histogram
    * is computed once (localCheckpoint) and shared by training and
    * encoding; encoding is a broadcast-ranks map over the histogram
    * rows — one further shuffle for the token counts. */
  def encodeHistogram(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val histDf = wordHistogram(docs, textCol).localCheckpoint()
    val hist = histDf.select(col("w"), col("freq"))
      .as[(String, Long)].collect()
    val merges = trainLocal(hist, k)
    val ranks: Map[(String, String), Int] =
      merges.map { case (it, l, r, _) => (l, r) -> it }.toMap
    // 1-based iteration -> 0-based inverse array for O(1) lookups
    val rankToPair: Array[(String, String)] =
      merges.sortBy(_._1).map { case (_, l, r, _) => (l, r) }.toArray
    val bcR = spark.sparkContext.broadcast(ranks)
    val bcP = spark.sparkContext.broadcast(rankToPair)
    val enc = udf((w: String) => encodeWord(w, bcR.value, bcP.value))
    histDf
      .select(col("freq"), explode(enc(col("w"))).as("token"))
      .groupBy("token").agg(sum("freq").as("cnt"))
  }
}
