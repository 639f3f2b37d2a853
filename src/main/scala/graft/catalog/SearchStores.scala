package graft
package catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._
import graft.functions.TextFunctions
import graft.streaming.IngestPipeline.BatchWriter
import Shared._

/** Catalog family — search index and stores: inverted index, skipping
  * indexes, bucketed-log stores, table maintenance. */
object SearchStores {

  // lazy: the private helpers below must be initialized first
  lazy val gates: Seq[Gate] = Seq(
    Gate("q100_bm25_retrieval", (s, dir) => {
      // sparse lexical retrieval — BM25 ranked search as an
      // inverted-index posting-list join (Retrieval.bm25TopK): the
      // corpus becomes (term, doc, tf) postings once, df rides a
      // window over the same lineage, N/avgdl stay in-plan as a 1-row
      // broadcast, and the (always small) query side broadcasts into
      // a term equi-join. Doc-as-query retrieval here: every %101 doc
      // searches for its 5 nearest neighbors by BM25, self excluded.
      val docs = tbl(s, dir, "documents")
      Retrieval.bm25TopK(
        docs.where(pmod(col("doc_id"), lit(101L)) === 0), docs,
        "doc_id", "text", k = 5, excludeSelf = true)
    },
      // same inverted-index derivation: postings + df + corpus stats
      // from ONE tokenize, Lucene-variant idf, identical round(·,6)
      // on the per-(query,cand) sum (rule 9), (score desc, cand_id)
      // rank with rank <= 5; %101 docs as queries, self excluded.
      bm25RetrievalSql),
    Gate("q107_hybrid_rrf", (s, dir) => {
      // hybrid retrieval (sparse + dense): BM25 top-20 and cosine
      // top-20 for the same %101 queries, fused by Reciprocal Rank
      // Fusion (Retrieval.rrfFuse). The fusion never touches the
      // corpus — it joins two ≤ q·k rank frames and re-ranks; every
      // score term is 1/(60+rank), bit-deterministic unrounded.
      val docs = tbl(s, dir, "documents")
      val emb = tbl(s, dir, "embeddings")
      val bm = Retrieval.bm25TopK(
        docs.where(pmod(col("doc_id"), lit(101L)) === 0), docs,
        "doc_id", "text", k = 20, excludeSelf = true)
      val cos = Similarity.cosineTopK(
        emb.where(pmod(col("vec_id"), lit(101L)) === 0), emb,
        "vec_id", "embedding", k = 20)
      Retrieval.rrfFuse(Seq(
        bm.select("query_id", "cand_id", "rank"),
        cos.select("query_id", "cand_id", "rank")), k = 10)
    },
      // q100's bm25 CTEs at k=20 + q26's cosine shape for the same
      // %101 queries, then the RRF join: each reciprocal is cast to
      // DOUBLE explicitly (a bare 1.0 literal is DECIMAL in DuckDB —
      // decimal division would break parity), summed in the same
      // fixed list order as the Spark fold, no rounding (single IEEE
      // ops of identical operands), (score desc, cand_id) tiebreak.
      s"""WITH toks AS ($toksCte),
         |stats AS (SELECT count(*)::DOUBLE AS n,
         |    coalesce(sum(len(t)), 0)::DOUBLE AS sumdl FROM toks),
         |terms AS (SELECT doc_id AS cand_id, len(t)::DOUBLE AS dl,
         |    unnest(t) AS term FROM toks),
         |tfc AS (SELECT cand_id, term, dl, count(*) AS tf
         |  FROM terms GROUP BY cand_id, term, dl),
         |dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY term),
         |q AS (SELECT doc_id AS query_id, unnest(list_distinct(t)) AS term
         |  FROM toks WHERE doc_id % 101 = 0),
         |scored AS (SELECT query_id, cand_id,
         |    round(sum(ln(1.0 + (s.n - df + 0.5) / (df + 0.5))
         |      * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / (s.sumdl / s.n)))), 6) AS score
         |  FROM tfc JOIN dfc USING (term) JOIN q USING (term), stats s
         |  WHERE query_id <> cand_id
         |  GROUP BY query_id, cand_id),
         |bm AS (SELECT query_id, cand_id, rank FROM (
         |  SELECT query_id, cand_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank
         |  FROM scored) WHERE rank <= 20),
         |eq AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |  FROM embeddings WHERE vec_id % 101 = 0),
         |ec AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv FROM embeddings),
         |escored AS (SELECT query_id, cand_id,
         |  list_dot_product(qv, cv)
         |    / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
         |  FROM ec, eq WHERE query_id <> cand_id),
         |cosl AS (SELECT query_id, cand_id, rank FROM (
         |  SELECT query_id, cand_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
         |  FROM escored) WHERE rank <= 20),
         |fused AS (SELECT
         |    coalesce(b.query_id, v.query_id) AS query_id,
         |    coalesce(b.cand_id, v.cand_id) AS cand_id,
         |    coalesce(1.0::DOUBLE / (60 + b.rank)::DOUBLE, 0.0::DOUBLE)
         |      + coalesce(1.0::DOUBLE / (60 + v.rank)::DOUBLE, 0.0::DOUBLE) AS rrf_score,
         |    (b.rank IS NOT NULL)::BIGINT + (v.rank IS NOT NULL)::BIGINT AS n_lists
         |  FROM bm b FULL OUTER JOIN cosl v
         |    ON b.query_id = v.query_id AND b.cand_id = v.cand_id)
         |SELECT query_id, cand_id, rrf_score, n_lists, rrf_rank FROM (
         |  SELECT query_id, cand_id, rrf_score, n_lists, row_number() OVER (
         |    PARTITION BY query_id ORDER BY rrf_score DESC, cand_id) AS rrf_rank
         |  FROM fused) WHERE rrf_rank <= 10""".stripMargin),
    Gate("q140_snapshot_diff", (s, dir) => {
      // DATASET VERSIONING: diff two corpus releases (v2 deletes
      // %13 ids, revises %7 texts, adds %11 ids under new ids) into
      // per-id added/removed/changed/unchanged verdicts. Each side
      // reduces to (id, md5) in its own scan; one full-outer hash
      // join moves digests, never documents. Exact strings + the
      // shared md5 make the oracle literal.
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val v2 = docs.where(pmod(col("doc_id"), lit(13L)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(7L)) === 0,
            concat(col("text"), lit(" rev2"))).otherwise(col("text")))
        .unionByName(docs.where(pmod(col("doc_id"), lit(11L)) === 0)
          .select((col("doc_id") + lit(1000000L)).as("doc_id"),
            concat(col("text"), lit(" new")).as("text")))
      SnapshotDiff.diff(docs, v2, "doc_id", "text")
    },
      // same v2 construction, same md5 digests, same CASE ladder
      """WITH v1 AS (SELECT doc_id, text FROM documents),
        |v2 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END AS text
        |  FROM v1 WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' new' FROM v1 WHERE doc_id % 11 = 0),
        |a AS (SELECT doc_id AS id, md5(text) AS h1 FROM v1),
        |b AS (SELECT doc_id AS id, md5(text) AS h2 FROM v2)
        |SELECT coalesce(a.id, b.id) AS doc_id,
        |  CASE WHEN a.id IS NULL THEN 'added'
        |       WHEN b.id IS NULL THEN 'removed'
        |       WHEN a.h1 <> b.h2 THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM a FULL OUTER JOIN b ON a.id = b.id""".stripMargin),
    Gate("q147_incr_bloom_index", (s, dir) => {
      // INCREMENTALLY-MAINTAINED BLOOM SHARD INDEX: q192's skipping
      // index kept CURRENT under an appending table through the
      // BucketedLog commit machinery — the last one-shot index build
      // in the lakehouse family made incremental. The table arrives
      // as three append batches; each refresh OR-merges ≤ one
      // (shard, bitset) partial per touched shard and rewrites only
      // those shards' log buckets: O(batch + touched index rows),
      // never O(table) (`bloom_index_batch` probe pins the flat
      // refresh). OR-merge is idempotent, so replay is safe even
      // without the #batch= guard (the q195 HLL argument). The gate
      // pins BIT-EXACT equality of the maintained index against the
      // one-shot build driver-side, then serves a point lookup from
      // it: only index-matched shard DIRECTORIES are read before the
      // exact residual semi join. Oracle = the plain filter — the
      // index buys IO skipping, never answers (q192's contract).
      val base = s"/tmp/graft_q147_incbloom_${md5Hex(dir)}"
      resetScratch(s, base)
      // six consumers (table write, 3 index commits, one-shot pin,
      // probe set) of one scan — materialize it once
      val orders = tbl(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .localCheckpoint()
      val idx = IncrementalBloomIndex(s"$base/idx", nShards = 64,
        buckets = 16)
      // the table itself lands in the same stable shard layout the
      // index units name, so matched shards prune to directories
      orders.withColumn("shard", idx.shardOf(col("o_orderkey")))
        .write.mode("overwrite").partitionBy("shard").parquet(s"$base/tbl")
      idx.init(s)
      Seq(0, 1, 2).foreach { p =>
        idx.applyBatch(orders.where(pmod(col("o_orderkey"), lit(3)) === p),
          "o_orderkey", p.toLong)
      }
      // bit-exactness: maintained index == one-shot build
      val stored = idx.read(s).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
      val oneShot = orders
        .groupBy(idx.shardOf(col("o_orderkey")).as("shard"))
        .agg(graft.expressions.BloomAggregate(
          xxhash64(col("o_orderkey")), 1024, 7).as("bloom_bits"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
      require(stored == oneShot,
        "incrementally-maintained Bloom index diverged from one-shot build")
      val probes = tbl(s, dir, "orders")
        .where(col("o_orderkey") % 11 === 4)
        .orderBy(col("o_orderkey")).limit(5).select("o_orderkey")
      val shards = idx.matchingShards(s, probes, "o_orderkey")
      require(shards.nonEmpty && shards.size < 64,
        s"probe should prune some of 64 shards: ${shards.size}")
      // serve through readWhere: the table is shard-laid, so the
      // Bloom attachment names the layout column and matched shards
      // prune to DIRECTORIES before the exact residual semi-join
      graft.operators.IndexedTable(s"$base/tbl",
          blooms = Seq(graft.operators.BloomAttachment("o_orderkey", idx,
            shardCol = Some("shard"))))
        .readWhere(s, Seq(graft.operators.IndexedTable.KeyIn(
          "o_orderkey", probes)))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    },
      // same contract as q192: the (incrementally-maintained) index
      // only decides which shard directories are READ; the residual
      // semi join makes the answer independent of false positives, so
      // the oracle is the plain filter. Index == one-shot bit-exactness
      // is pinned driver-side inside the query (a require, not SQL).
      """WITH p AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 11 = 4
        |  ORDER BY o_orderkey LIMIT 5)
        |SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
        |FROM orders o JOIN p USING (o_orderkey)""".stripMargin),
    Gate("q149_scd2_intervals", (s, dir) => {
      // SCD TYPE-2 dimension build from the event stream: per user,
      // event_type is a type-2 slowly-changing attribute — a validity
      // interval opens at each CHANGE (consecutive repeats collapse),
      // valid_to = the next change's timestamp, null while current.
      // Exact timestamps; (ts, event_id) totally orders each user's
      // history (hard rule 4).
      val wAll = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val changes = tbl(s, dir, "events")
        .where(col("user_id") < 100)
        .withColumn("prev_type", lag("event_type", 1).over(wAll))
        .where(col("prev_type").isNull ||
          col("prev_type") =!= col("event_type"))
      changes
        .withColumn("valid_to", lead("ts", 1).over(wAll))
        .select(col("user_id"), col("event_type"),
          col("ts").as("valid_from"), col("valid_to"))
    },
      """WITH o AS (SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_type
        |  FROM events WHERE user_id < 100),
        |ch AS (SELECT user_id, event_type, ts, event_id FROM o
        |  WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id, event_type, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
        |FROM ch""".stripMargin),
    Gate("q169_zorder_layout", (s, dir) => {
      // Z-ORDER LAYOUT CLUSTERING (the OPTIMIZE ZORDER step): events
      // keyed by the 16-bit interleave of (user_id, centi-value),
      // sliced into 16 equal-depth z-ranges; the gate emits each
      // slice's ZONE MAP (count + min/max of BOTH dimensions) — the
      // rectangles a z-ordered file layout would advertise for
      // data skipping. Bit interleave is exact integer arithmetic,
      // generated once in Scala for both engines; the production
      // repartitionByRange path is documented in ZOrder (its sampled
      // boundaries are scale-correct but not replayable — the gate's
      // ntile over the exact (z, event_id) order is).
      val ev = tbl(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          floor(col("value") * lit(100.0)).cast("long").as("vq"))
      ZOrder.layoutStats(ev, "user_id", "vq", "event_id",
        bits = 16, nBuckets = 16)
    },
      // same Scala-generated bit-interleave text on both engines; ntile
      // over the exact (z, event_id) order; all-integer zone maps
      s"""WITH e AS (SELECT event_id, user_id,
         |    CAST(floor(value * 100.0) AS BIGINT) AS vq FROM events),
         |z AS (SELECT event_id, user_id, vq,
         |    ${graft.operators.ZOrder.zValueSqlExpr("user_id", "vq", 16)} AS z
         |  FROM e),
         |b AS (SELECT user_id, vq,
         |    ntile(16) OVER (ORDER BY z, event_id) AS bucket FROM z)
         |SELECT bucket::BIGINT AS bucket, count(*)::BIGINT AS n_rows,
         |  min(user_id) AS min_a, max(user_id) AS max_a,
         |  min(vq) AS min_b, max(vq) AS max_b
         |FROM b GROUP BY bucket""".stripMargin),
    Gate("q173_fingerprint", (s, dir) => {
      // DATASET CONTENT FINGERPRINT per day (anti-entropy): 60-bit
      // row hashes folded with commutative XOR + bounded additive
      // sum — a pure function of each day's row multiset under any
      // partitioning/order/engine, which is exactly what lets the
      // DuckDB twin serve as the "other replica" here. Rows hash on
      // canonical integers (epoch micros, exact centi-value), never
      // float formatting.
      val ev = tbl(s, dir, "events")
      Fingerprint.grouped(
        ev.withColumn("day", to_date(col("ts")).cast("string"))
          .withColumn("us", unix_micros(col("ts").cast("timestamp")))
          .withColumn("cents", scaledLong(col("value"), 2)),
        Seq("day"),
        Seq(col("event_id"), col("user_id"), col("event_type"),
          col("us"), col("cents")))
    },
      fingerprintSql),
    Gate("q177_merge_into", (s, dir) => {
      // CDC MERGE INTO (the lakehouse upsert): an order-driven change
      // batch folds into the customer snapshot — latest change per
      // key by (o_orderdate, o_orderkey) wins; % 11 keys delete,
      // % 13 keys shift to unseen ids (inserts), the rest update
      // segment/balance; untouched customers pass through. The
      // change side pre-reduces map-side with max_by, then ONE
      // full-outer join — base is never windowed or sorted.
      val base = tbl(s, dir, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
      val changes = tbl(s, dir, "orders").select(
        when(col("o_custkey") % 13 === 0, col("o_custkey") + 1000000L)
          .otherwise(col("o_custkey")).as("c_custkey"),
        when(col("o_custkey") % 11 === 0, lit("D")).otherwise(lit("U"))
          .as("op"),
        col("o_orderpriority").as("c_mktsegment"),
        col("o_totalprice").as("c_acctbal"),
        col("o_orderdate").as("ts"), col("o_orderkey").as("id"))
      MergeInto(base, changes, "c_custkey", "ts", "id", "op",
        Seq("c_mktsegment", "c_acctbal"))
    },
      // latest-change-wins under the (ts, id) total order; D deletes,
      // U upserts, untouched base keys pass through the full join
      mergeIntoSql),
    Gate("q183_zorder_skipping", (s, dir) => {
      // Z-ORDER READ PATH (completes q169's write-side story): events
      // are written z-clustered by (minute-of-day, centi-value) into
      // 64 zone-mapped bucket dirs — the Delta/Iceberg
      // stats-in-transaction-log shape — and a 2-D box predicate is
      // answered through driver-side zone-map FILE PRUNING plus the
      // exact residual filter. The result is exactly the filtered
      // rows (trivially SQL-oracled); the SKIPPING claim — the
      // z-layout's scan plans strictly fewer files than a
      // single-column-sort layout for the same box, via the scan's
      // own numFiles metric — is pinned by ZOrderSpec. Both dims are
      // sf-invariant (minute 0..1439; centi-value well under the
      // 16-bit interleave range).
      val scratch = s"/tmp/graft_q183_zread_${md5Hex(dir)}"
      val ev = tbl(s, dir, "events").select(
        col("event_id"),
        (hour(col("ts")) * 60 + minute(col("ts"))).cast("long").as("mofd"),
        floor(col("value") * lit(100.0)).cast("long").as("vq"))
      val z = ZOrder.zValue(col("mofd"), col("vq"), 16)
      ZOrder.writeBucketed(ev, Seq(z, col("event_id")), "mofd", "vq",
        nBuckets = 64, scratch)
      ZOrder.readBox(s, scratch, "mofd", "vq", 0L, 719L, 5000L, 8000L)
    },
      // zone-map pruning is sound (rectangles are true bounds), so the
      // pruned scan + residual filter returns EXACTLY the box rows
      """SELECT event_id,
        |  (extract(hour FROM ts) * 60 + extract(minute FROM ts))::BIGINT
        |    AS mofd,
        |  CAST(floor(value * 100.0::DOUBLE) AS BIGINT) AS vq
        |FROM events
        |WHERE (extract(hour FROM ts) * 60 + extract(minute FROM ts))
        |    BETWEEN 0 AND 719
        |  AND CAST(floor(value * 100.0::DOUBLE) AS BIGINT)
        |    BETWEEN 5000 AND 8000""".stripMargin),
    Gate("q187_agg_view", (s, dir) => {
      // INCREMENTAL MATERIALIZED AGGREGATE VIEW (IVM): a per-
      // (supplier, ship-month) revenue/quantity GROUP BY maintained by
      // folding per-batch PARTIAL aggregates into stored group rows
      // (AggView over the BucketedLog machine) — never re-aggregating
      // the fact history. Measures are exact LONG cents/units, so the
      // folded state equals the one-shot aggregate for ANY batch
      // split, in any order, at any parallelism. Three adversarial
      // commits: facts parts {0,1}, then part 2, then a full
      // RETRACTION of part 1 (sign −1) — retracted groups shrink
      // exactly and fully-retracted groups leave the state. Oracle =
      // the direct GROUP BY over parts {0,2}.
      val base = s"/tmp/graft_q187_aggview_${md5Hex(dir)}"
      resetScratch(s, base)
      val facts = tbl(s, dir, "lineitem").select(col("l_suppkey"),
        date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        pmod(col("l_orderkey"), lit(3)).as("part"))
      val view = aggViewOf(s"$base/view")
      val ins = facts.withColumn("sig", lit(1L))
      view.init(ins.where(lit(false)))
      view.applyBatch(ins.where(col("part") < 2), 0L)
      view.applyBatch(ins.where(col("part") === 2), 1L)
      view.applyBatch(facts.where(col("part") === 1)
        .withColumn("sig", lit(-1L)), 2L)
      view.read(s)
    },
      // incrementally-folded LONG state == the one-shot GROUP BY for any
      // batching — the same SQL oracles the batch and streaming gates
      aggViewSql),
    Gate("q189_time_travel", (s, dir) => {
      // TIME TRAVEL over the versioned snapshot store: with
      // `retain = true` every batch's manifest survives, and because
      // untouched buckets point BACKWARD at older version dirs,
      // manifest j IS the full snapshot as of version j — historical
      // reads cost zero storage beyond the per-batch deltas already
      // written (the Delta/Iceberg contract). q177's change feed
      // applies as two id-parity batches; the query reads the
      // snapshot AS OF v0 (the base), v1 (even-id changes applied)
      // and v2 (all) — each oracled by the one-shot merge SQL over
      // the corresponding change prefix.
      val base = s"/tmp/graft_q189_ttravel_${md5Hex(dir)}"
      resetScratch(s, base)
      val changes = tbl(s, dir, "orders").select(
        when(col("o_custkey") % 13 === 0, col("o_custkey") + 1000000L)
          .otherwise(col("o_custkey")).as("c_custkey"),
        when(col("o_custkey") % 11 === 0, lit("D")).otherwise(lit("U"))
          .as("op"),
        col("o_orderpriority").as("c_mktsegment"),
        col("o_totalprice").as("c_acctbal"),
        col("o_orderdate").as("ts"), col("o_orderkey").as("id"))
      val snap = graft.streaming.SnapshotStore(s"$base/snap",
        "c_custkey", "ts", "id", "op",
        Seq("c_mktsegment", "c_acctbal"), buckets = 16, retain = true)
      snap.init(tbl(s, dir, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal"),
        changes.schema("ts").dataType, changes.schema("id").dataType)
      snap.applyBatch(changes.where(pmod(col("id"), lit(2)) === 0), 0L)
      snap.applyBatch(changes.where(pmod(col("id"), lit(2)) === 1), 1L)
      Seq(0L, 1L, 2L).map(v =>
          snap.readAt(s, v).withColumn("ver", lit(v)))
        .reduce(_.unionByName(_))
        .select("ver", "c_custkey", "c_mktsegment", "c_acctbal")
    },
      timeTravelSql),
    Gate("q192_bloom_file_index", (s, dir) => {
      // FILE-LEVEL BLOOM INDEX point lookup: orders lands in 64
      // custkey-hashed files (orderkeys scatter across ALL of them,
      // so min/max zone maps prune nothing for an orderkey probe);
      // one scan builds a KB-scale Bloom bitset per file, and the
      // lookup reads ONLY index-matched files (≤ probes + false
      // positives, 5-ish of 64 at ANY table size — BloomIndexSpec
      // pins the skip) before the exact residual semi join. Oracle =
      // the plain filter; the index buys IO skipping, never answers.
      val base = s"/tmp/graft_q192_bloomidx_${md5Hex(dir)}"
      resetScratch(s, base)
      tbl(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .repartition(64, col("o_custkey"))
        .write.parquet(s"$base/tbl")
      val table = s.read.parquet(s"$base/tbl")
      val index = BloomIndex.build(table, "o_orderkey")
      val probes = tbl(s, dir, "orders")
        .where(col("o_orderkey") % 7 === 3)
        .orderBy(col("o_orderkey")).limit(5)
        .select("o_orderkey")
      BloomIndex.lookup(s, index, probes, "o_orderkey")
        .select("o_orderkey", "o_custkey", "o_totalprice")
    },
      bloomIndexSql),
    Gate("q194_jsonl_roundtrip", (s, dir) => {
      // JSONL CORPUS ROUND TRIP — the lingua-franca training-data
      // interchange format: documents export to line-delimited JSON
      // shards (`to_json` + text sink, one doc per line — embedded
      // newlines are escaped by JSON), re-import via `from_json`
      // with an explicit schema, and the per-language checksum
      // aggregate (exact LONG sums incl. a 52-bit md5 text hash)
      // proves the round trip byte-lossless: the oracle computes the
      // same sums from the ORIGINAL parquet. Byte counts, not char
      // counts (octet_length ↔ strlen) — grapheme semantics differ
      // across engines.
      val base = s"/tmp/graft_q194_jsonl_${md5Hex(dir)}"
      resetScratch(s, base)
      tbl(s, dir, "documents")
        .select(to_json(struct(col("doc_id"), col("lang"), col("text")))
          .as("value"))
        .repartition(8)
        .write.text(s"$base/jsonl")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("lang",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      s.read.text(s"$base/jsonl")
        .select(from_json(col("value"), schema).as("d"))
        .select("d.*")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("sum_ids"),
          sum(octet_length(col("text")).cast("long")).as("sum_bytes"),
          sum(conv(substring(md5(col("text")), 1, 13), 16, 10)
            .cast("long")).as("sum_text_hash"))
    },
      jsonlSql),
    Gate("q197_changelog", (s, dir) => {
      // CHANGELOG READ (CDC OUT — the table_changes API): time travel
      // in, diff out. The retained store serves any two committed
      // versions (q189), and SnapshotDiff classifies every key
      // added/removed/changed/unchanged between v1 (even-id changes
      // applied) and v2 (all) — digests move, not rows. Content is a
      // canonical string with the balance as EXACT cents (double
      // formatting never crosses engines); the oracle full-outer
      // joins the two one-shot merge prefixes. Together with q177/
      // q181/q189 this closes the CDC loop: changes → snapshot →
      // versions → changes.
      val base = s"/tmp/graft_q197_changelog_${md5Hex(dir)}"
      resetScratch(s, base)
      val changes = tbl(s, dir, "orders").select(
        when(col("o_custkey") % 13 === 0, col("o_custkey") + 1000000L)
          .otherwise(col("o_custkey")).as("c_custkey"),
        when(col("o_custkey") % 11 === 0, lit("D")).otherwise(lit("U"))
          .as("op"),
        col("o_orderpriority").as("c_mktsegment"),
        col("o_totalprice").as("c_acctbal"),
        col("o_orderdate").as("ts"), col("o_orderkey").as("id"))
      val snap = graft.streaming.SnapshotStore(s"$base/snap",
        "c_custkey", "ts", "id", "op",
        Seq("c_mktsegment", "c_acctbal"), buckets = 16, retain = true)
      snap.init(tbl(s, dir, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal"),
        changes.schema("ts").dataType, changes.schema("id").dataType)
      snap.applyBatch(changes.where(pmod(col("id"), lit(2)) === 0), 0L)
      snap.applyBatch(changes.where(pmod(col("id"), lit(2)) === 1), 1L)
      def content(df: DataFrame): DataFrame =
        df.select(col("c_custkey"),
          concat_ws("|", col("c_mktsegment"),
            round(col("c_acctbal") * 100).cast("long").cast("string"))
            .as("content"))
      SnapshotDiff.diff(content(snap.readAt(s, 1L)),
        content(snap.readAt(s, 2L)), "c_custkey", "content")
    },
      changelogSql),
    Gate("q200_orc_roundtrip", (s, dir) => {
      // ORC SOURCE/SINK round trip — the second columnar format the
      // lakehouse speaks (q194's JSONL discipline for binary
      // columnar): lineitem exports to ORC partitioned by returnflag
      // (directory pruning works the same as parquet's), re-imports
      // with a date-range predicate that reaches the ORC reader as
      // a pushed filter, and the per-flag exact checksum aggregate
      // (LONG counts/cents/epoch-micros sums) proves the trip
      // value-lossless against the original parquet, which is what
      // the oracle reads. Doubles and timestamps are stored binary in
      // ORC — no text formatting anywhere.
      val base = s"/tmp/graft_q200_orc_${md5Hex(dir)}"
      resetScratch(s, base)
      tbl(s, dir, "lineitem")
        .select("l_returnflag", "l_quantity", "l_extendedprice",
          "l_discount", "l_shipdate")
        .write.partitionBy("l_returnflag").orc(s"$base/orc")
      s.read.orc(s"$base/orc")
        .where(col("l_shipdate") >= to_timestamp(lit("1995-01-01 00:00:00")))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_quantity")).cast("long")).as("sum_qty"),
          sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * 100).cast("long")).as("rev_cents"),
          // DAY offsets, not epoch micros: ~8e14 µs per row overflows
          // a LONG sum past ~11k rows per flag (caught by the sf0.01
          // cert run); day numbers (<3000) keep the checksum exact at
          // any corpus size
          sum(datediff(to_date(col("l_shipdate")),
            lit("1992-01-01").cast("date")).cast("long"))
            .as("sum_ship_days"))
    },
      // the checksum aggregate over the ORIGINAL parquet — equality
      // proves the ORC export/import value-lossless (q194's contract
      // for binary columnar)
      """SELECT l_returnflag, count(*)::BIGINT AS n,
        |  sum(round(l_quantity)::BIGINT)::BIGINT AS sum_qty,
        |  sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT)::BIGINT
        |    AS rev_cents,
        |  sum((l_shipdate::DATE - DATE '1992-01-01'))::BIGINT
        |    AS sum_ship_days
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |GROUP BY 1""".stripMargin),
    Gate("q206_hrw_sharding", (s, dir) => {
      // RENDEZVOUS-HASH SHARD GROWTH: assign every doc its
      // highest-random-weight shard under n=8 and n=9 and report, per
      // new shard, how many docs moved. The HRW guarantee — checked
      // exactly by the oracle and pinned by RendezvousSpec — is that
      // n_moved = 0 for every pre-existing shard (movers land ONLY on
      // the new shard 8, an expected 1/9 of the corpus): the layout
      // property that lets a 100 TB corpus grow its shard count
      // without re-dealing ~8/9 of it (what mod-n would do). Shape:
      // zero-shuffle codegen projection + one count aggregate.
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          Splits.rendezvousShard(col("doc_id"), "v1", 8).as("shard_old"),
          Splits.rendezvousShard(col("doc_id"), "v1", 9).as("shard"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("shard_old") =!= col("shard"), 1L).otherwise(0L))
            .as("n_moved"))
    },
      // one md5 draw per (shard, doc); min_by over the 34-char
      // h||lpad(s,2) key replays Spark's struct(h, s) tiebreak exactly;
      // HRW property checked by the oracle itself: movers only on shard 8
      """WITH o AS (SELECT doc_id,
        |    min_by(s, md5('v1:' || s::VARCHAR || ':' || doc_id::VARCHAR)
        |      || lpad(s::VARCHAR, 2, '0')) AS shard_old
        |  FROM documents, unnest(generate_series(0, 7)) AS g(s)
        |  GROUP BY doc_id),
        |n AS (SELECT doc_id,
        |    min_by(s, md5('v1:' || s::VARCHAR || ':' || doc_id::VARCHAR)
        |      || lpad(s::VARCHAR, 2, '0')) AS shard
        |  FROM documents, unnest(generate_series(0, 8)) AS g(s)
        |  GROUP BY doc_id)
        |SELECT shard, count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN shard_old <> shard THEN 1 ELSE 0 END)::BIGINT
        |    AS n_moved
        |FROM o JOIN n USING (doc_id) GROUP BY 1""".stripMargin),
    Gate("q210_ivf_index_table", (s, dir) => {
      // PERSISTED IVF INDEX TABLE — build once, query many: the
      // trained centroid table and the cell-PARTITIONED postings land
      // in parquet, and the lookup path reads ONLY the probed cells'
      // directories back (a literal isin partition filter — the
      // probed set is ≤ nCentroids ints — statically prunes the scan,
      // IvfIndexSpec) before the exact cosine re-rank. This is the
      // serving layout at 100 TB: q40 re-trains and re-assigns per
      // query run (fine for one-shot analytics); an index SERVING
      // corpus builds once and answers every subsequent query batch
      // from ~nProbe/nCentroids of the index. DuckDB replays probe +
      // re-rank from the persisted bytes alone (float32 round-trips
      // parquet exactly; both engines fold dot products in index
      // order), so the gate also proves the stored postings equal the
      // live assignment.
      val path = Similarity.scratchIvfIndexPath
      val emb = tbl(s, dir, "embeddings")
      Similarity.ivfIndexWrite(emb, "vec_id", "embedding", path,
        nCentroids = 16, sampleSize = 2000, iters = 3)
      Similarity.ivfIndexTopK(s, emb.where(col("vec_id") < 10),
        "vec_id", "embedding", path, k = 5, nProbe = 4)
    },
      // probe + re-rank replayed from the PERSISTED index bytes alone
      // (centroid parquet + hive-partitioned postings): c2 and every
      // dot are index-ordered double folds on float32 values that
      // round-trip parquet exactly — hash-exact, and it proves the
      // stored postings equal the live assignment
      ivfIndexSql(operators.Similarity.scratchIvfIndexPath)),
    Gate("q211_vacuum_retention", (s, dir) => {
      // VACUUM/RETENTION under the oracle gate — the last un-oracled
      // edge of the time-travel contract (q189): a RETAINED snapshot
      // store takes three change commits (id mod 3 split of q177's
      // feed -> versions 1..3), then VACUUMS history below version 2
      // mid-history. The gate proves all three retention properties
      // in one query: (a) surviving versions still answer the
      // one-shot merge SQL verbatim (the output rows, hash-compared),
      // (b) storage actually SHRANK (strict file-count assertion —
      // vacuumed manifests and unreferenced version dirs are gone),
      // (c) reads below the floor fail LOUDLY (readAt(0)/readAt(1)
      // error rather than silently serving a newer snapshot). At
      // 100 TB this is the Delta/Iceberg VACUUM contract: retention
      // is a floor-version delete of manifests + unreferenced dirs,
      // never a rewrite of surviving state.
      val base = s"/tmp/graft_q211_vacuum_${md5Hex(dir)}"
      val fs = resetScratch(s, base)
      val changes = tbl(s, dir, "orders").select(
        when(col("o_custkey") % 13 === 0, col("o_custkey") + 1000000L)
          .otherwise(col("o_custkey")).as("c_custkey"),
        when(col("o_custkey") % 11 === 0, lit("D")).otherwise(lit("U"))
          .as("op"),
        col("o_orderpriority").as("c_mktsegment"),
        col("o_totalprice").as("c_acctbal"),
        col("o_orderdate").as("ts"), col("o_orderkey").as("id"))
      val snap = graft.streaming.SnapshotStore(s"$base/snap",
        "c_custkey", "ts", "id", "op",
        Seq("c_mktsegment", "c_acctbal"), buckets = 16, retain = true)
      snap.init(tbl(s, dir, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal"),
        changes.schema("ts").dataType, changes.schema("id").dataType)
      Seq(0, 1, 2).foreach { k =>
        snap.applyBatch(changes.where(pmod(col("id"), lit(3)) === k),
          k.toLong)
      }
      def fileCount: Int = {
        def rec(p: org.apache.hadoop.fs.Path): Int =
          fs.listStatus(p).map(st =>
            if (st.isDirectory) rec(st.getPath) else 1).sum
        rec(new org.apache.hadoop.fs.Path(s"$base/snap"))
      }
      val before = fileCount
      snap.vacuum(s, keepFrom = 2L)
      require(fileCount < before,
        s"vacuum must shrink storage: $before -> $fileCount files")
      Seq(0L, 1L).foreach { v =>
        val failed = try { snap.readAt(s, v).collect(); false }
          catch { case _: RuntimeException => true }
        require(failed, s"readAt($v) below the vacuum floor must error")
      }
      Seq(2L, 3L).map(v => snap.readAt(s, v).withColumn("ver", lit(v)))
        .reduce(_.unionByName(_))
        .select("ver", "c_custkey", "c_mktsegment", "c_acctbal")
    },
      // q211: the two SURVIVING versions after the vacuum are each the
      // one-shot merge over their change prefix (q189's contract); the
      // shrink and fail-loud-below-floor properties are pinned
      // driver-side inside the query (requires, not SQL)
      s"""SELECT 2::BIGINT AS ver, m1.*
         |FROM (${mergeIntoSqlWhere("o_orderkey % 3 < 2")}) m1
         |UNION ALL
         |SELECT 3::BIGINT AS ver, m2.*
         |FROM (${mergeIntoSqlWhere("TRUE")}) m2""".stripMargin),
    Gate("q221_proximity", (s, dir) => {
      // PHRASE-PROXIMITY RANKING: docs containing BOTH query terms,
      // ranked by the minimum token-position distance between any
      // occurrence pair — the retrieval feature that separates
      // "terms co-occur" (BM25, q100) from "terms occur TOGETHER".
      // Positions are exact ints from one posexplode; the per-doc
      // pair fan-out is occurrences(a)×occurrences(b), bounded by
      // per-doc term frequency, and the join is doc-keyed (posting
      // lists, never a corpus cross join). proximity = ONE division
      // of exact ints; (mindist, doc_id) rank per hard rule 4.
      val toks = tbl(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(TextFunctions.tokens(col("text"))).as(Seq("pos", "w")))
      def side(term: String, p: String) =
        toks.where(col("w") === term)
          .select(col("doc_id"), col("pos").as(p))
      side("order", "pa").join(side("table", "pb"), Seq("doc_id"))
        .groupBy("doc_id")
        .agg(min(abs(col("pa") - col("pb"))).cast("long").as("min_dist"),
          countDistinct(col("pa")).cast("long").as("n_a"),
          countDistinct(col("pb")).cast("long").as("n_b"))
        .withColumn("proximity",
          lit(1.0) / (lit(1.0) + col("min_dist").cast("double")))
        // TakeOrderedAndProject does the top-20 DISTRIBUTED; the rank
        // window then runs over ≤20 rows, never the match set
        .orderBy(col("min_dist"), col("doc_id")).limit(20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("min_dist"), col("doc_id"))).cast("long"))
    },
      // positions are 1-based here vs posexplode's 0-based — distances
      // and counts are base-invariant; exact ints, one division
      proximitySql),
    Gate("q229_repair_targets", (s, dir) => {
      // MERKLE-STYLE REPAIR TARGETING — q173's digests made
      // ACTIONABLE: replica B is replica A with a deterministic
      // deletion (event_id ≡ 0 mod 499) and a deterministic update
      // (value+1.0 where event_id ≡ 0 mod 503); the anti-entropy pass
      // joins the two per-bucket digest tables and emits ONLY the
      // buckets needing re-sync. The repair loop reads O(buckets)
      // digest rows to locate divergence in a 100 TB table — the rows
      // themselves ship only for flagged buckets. Digest folds are
      // order-free (XOR / bounded sums), bucket = event_id mod 64.
      val ev = tbl(s, dir, "events")
        .select("event_id", "user_id", "event_type", "ts", "value")
      val b = ev.where(pmod(col("event_id"), lit(499)) =!= 0)
        .withColumn("value",
          when(pmod(col("event_id"), lit(503)) === 0, col("value") + lit(1.0))
            .otherwise(col("value")))
      def bucketed(d: DataFrame) =
        d.withColumn("bucket", pmod(col("event_id"), lit(64)).cast("long"))
      Fingerprint.divergence(bucketed(ev), bucketed(b),
        Seq("bucket"), Seq(col("event_id"), col("user_id"),
          col("event_type"), unix_micros(col("ts").cast("timestamp")),
          scaledLong(col("value"), 2)))
    },
      // replica B re-derived from A by the same deterministic rules;
      // digest folds are order-free, so both engines agree bucket-wise
      """WITH canon AS (SELECT event_id, event_id % 64 AS bucket,
        |    md5(event_id::VARCHAR || '|' || user_id::VARCHAR || '|' ||
        |      event_type || '|' || epoch_us(ts)::VARCHAR || '|' ||
        |      CAST(round(value * 100, 0) AS BIGINT)::VARCHAR) AS m
        |  FROM events),
        |a AS (SELECT bucket, ('0x' || substr(m, 1, 15))::BIGINT AS hv
        |  FROM canon),
        |bsrc AS (SELECT event_id, user_id, event_type, ts,
        |    CASE WHEN event_id % 503 = 0 THEN value + 1.0::DOUBLE
        |         ELSE value END AS value
        |  FROM events WHERE event_id % 499 <> 0),
        |b AS (SELECT event_id % 64 AS bucket,
        |    ('0x' || substr(md5(event_id::VARCHAR || '|' ||
        |      user_id::VARCHAR || '|' || event_type || '|' ||
        |      epoch_us(ts)::VARCHAR || '|' ||
        |      CAST(round(value * 100, 0) AS BIGINT)::VARCHAR),
        |      1, 15))::BIGINT AS hv
        |  FROM bsrc),
        |da AS (SELECT bucket, count(*)::BIGINT AS n_a, bit_xor(hv) AS xa,
        |    CAST(sum(hv % 4294967296) AS BIGINT) AS sa FROM a GROUP BY 1),
        |db AS (SELECT bucket, count(*)::BIGINT AS n_b, bit_xor(hv) AS xb,
        |    CAST(sum(hv % 4294967296) AS BIGINT) AS sb FROM b GROUP BY 1),
        |j AS (SELECT bucket::BIGINT AS bucket,
        |    CASE WHEN n_b IS NULL THEN 'a_only'
        |         WHEN n_a IS NULL THEN 'b_only'
        |         WHEN n_a <> n_b OR xa <> xb OR sa <> sb THEN 'divergent'
        |    END AS status,
        |    COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
        |  FROM da FULL OUTER JOIN db USING (bucket))
        |SELECT bucket, status, n_a, n_b FROM j
        |WHERE status IS NOT NULL""".stripMargin),
    Gate("q230_incr_zone_map", (s, dir) => {
      // INCREMENTALLY-MAINTAINED ZONE-MAP INDEX — the RANGE-predicate
      // sibling of q147, i.e. the Delta/Iceberg add-file-stats
      // discipline as an operator: per-UNIT (min, max, rows) stats
      // over an ordered key, collected AT APPEND TIME through the
      // BucketedLog machine, O(batch + touched index rows) per
      // refresh, never a table rescan. Units are contiguous orderkey
      // ranges (the append pattern: auto-increment PK / log-offset
      // windows per ingest batch), which is what makes per-unit
      // ranges TIGHT — a hash shard would span the domain and prune
      // nothing (exactly why q147 hashes and this one must not).
      // min/max fold idempotently; rows is ADDITIVE and exact only
      // under the #batch= replay guard (the q199 argument, spec-
      // pinned). Gate pins stored == one-shot stats driver-side,
      // then serves a RANGE scan reading only index-matched unit
      // DIRECTORIES + the exact residual predicate. Oracle = the
      // plain range filter (q192's contract: the index buys IO
      // skipping, never answers).
      val base = s"/tmp/graft_q230_zonemap_${md5Hex(dir)}"
      resetScratch(s, base)
      val orders = tbl(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val mx = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val w = mx / 8 + 1
      // seven consumers (table write, 4 index commits, one-shot pin,
      // lookup) of one scan — materialize it once
      val withUnit = orders
        .withColumn("unit", expr(s"o_orderkey div $w").cast("int"))
        .localCheckpoint()
      withUnit.write.mode("overwrite").partitionBy("unit")
        .parquet(s"$base/tbl")
      val idx = ZoneMapIndex(s"$base/idx")
      idx.init(s, "int", "long")
      // four arrival batches of two consecutive units each
      Seq(0, 1, 2, 3).foreach { k =>
        idx.applyBatch(
          withUnit.where(col("unit") === 2 * k || col("unit") === 2 * k + 1),
          "unit", "o_orderkey", k.toLong)
      }
      val stored = idx.read(s).collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      val oneShot = withUnit.groupBy("unit")
        .agg(min(col("o_orderkey")).as("mn"), max(col("o_orderkey")).as("mx"),
          count(lit(1)).as("rows"))
        .collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      require(stored == oneShot,
        "incrementally-maintained zone map diverged from one-shot stats")
      val (lo, hi) = (mx / 5, mx / 5 + mx / 10)
      val units = idx.matchingUnits(s, lit(lo), lit(hi))
      require(units.nonEmpty && units.size < stored.size,
        s"range probe should prune some of ${stored.size} units: $units")
      // serve through the readWhere facade: the attached index prunes
      // unit directories by default, the exact range runs as residual
      graft.operators.IndexedTable(s"$base/tbl",
          zoneMaps = Map("o_orderkey" -> idx))
        .readWhere(s, Seq(graft.operators.IndexedTable.Range(
          "o_orderkey", lit(lo), lit(hi))))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    },
      // q230: same contract as q192/q147 — the maintained zone map only
      // decides which unit directories are READ; the residual range
      // predicate makes the answer exact, so the oracle is the plain
      // range filter (integer floor-div bounds on both engines)
      """WITH m AS (SELECT max(o_orderkey) AS mx FROM orders)
        |SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
        |FROM orders o, m
        |WHERE o.o_orderkey BETWEEN m.mx // 5 AND m.mx // 5 + m.mx // 10""".stripMargin),
    Gate("q231_indexed_ingest", (s, dir) => {
      // INDEXED INGEST — the composition the freshness fence exists
      // for: a micro-batch stream of appends maintains BOTH the
      // unit-partitioned data layout AND its zone-map skipping index
      // in ONE foreachBatch loop. Each batch (a) lands its rows in an
      // idempotent per-batch data dir (`__bid=<id>` overwrite — the
      // q215 discipline, so a replayed batch replaces itself) and
      // (b) folds per-unit stats through the #batch=-guarded index
      // commit. After the drain the gate CHECKS THE FENCE — the
      // index's coverage receipt equals the last appended batch id,
      // so pruning with it is sound for every landed row — then
      // serves a range lookup reading only index-matched unit
      // directories + the exact residual. This is how a 100 TB
      // ingest keeps its skipping index live: O(batch) data write +
      // O(batch + touched index rows) refresh per arrival, never a
      // rescan, never an unsound prune. Oracle = the plain range
      // filter (the index buys IO skipping, never answers).
      val base = s"/tmp/graft_q231_ingidx_${md5Hex(dir)}"
      resetScratch(s, base)
      val in = s"$base/in"; val ckpt = s"$base/ckpt"
      val orders = tbl(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val mx = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val w = mx / 8 + 1
      val withUnit = orders
        .withColumn("unit", expr(s"o_orderkey div $w").cast("int"))
        .localCheckpoint()
      // four arrival batches of two consecutive units each (the
      // append pattern: contiguous key windows per ingest batch)
      Seq(0, 1, 2, 3).foreach { k =>
        withUnit
          .where(col("unit") === 2 * k || col("unit") === 2 * k + 1)
          .appendBatchTo(in, k)
      }
      val idx = ZoneMapIndex(s"$base/idx")
      idx.init(s, "int", "long")
      val q = graft.streaming.IngestPipeline.fileSource(
          s, s.read.parquet(in).schema, in, maxFilesPerTrigger = 1)
        .writeStream
        .foreachBatch { (b: DataFrame, bid: Long) =>
          b.write.mode("overwrite").partitionBy("unit")
            .parquet(s"$base/tbl/__bid=$bid")
          idx.applyBatch(b, "unit", "o_orderkey", bid)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
      // the fence: every landed batch is covered -> pruning is sound
      require(idx.coveredBatch(s) == 3L,
        s"index coverage receipt must equal the last appended batch: " +
          s"${idx.coveredBatch(s)}")
      val (lo, hi) = (mx / 3, mx / 3 + mx / 12)
      val units = idx.matchingUnits(s, lit(lo), lit(hi))
      require(units.nonEmpty && units.size < 8,
        s"range probe should prune some of 8 units: $units")
      s.read.parquet(s"$base/tbl")
        .where(col("unit").isin(units.map(u => Integer.valueOf(u.toInt)): _*))
        .where(col("o_orderkey") >= lo && col("o_orderkey") <= hi)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    },
      // q231: the plain range filter again — streaming co-maintenance
      // changes WHEN stats land (per ingest batch, fence-checked), not
      // what a lookup answers
      """WITH m AS (SELECT max(o_orderkey) AS mx FROM orders)
        |SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
        |FROM orders o, m
        |WHERE o.o_orderkey BETWEEN m.mx // 3 AND m.mx // 3 + m.mx // 12""".stripMargin,
      streaming = true),
    Gate("q232_optimize_compact", (s, dir) => {
      // OPTIMIZE — small-file compaction closing the lakehouse loop
      // (ingest q231 -> optimize HERE -> serve): the per-batch
      // `__bid=` append dirs that make ingest idempotent accumulate
      // small files; compaction rewrites them into ONE file per unit
      // (repartition on unit — the ivfIndexAppend write discipline)
      // WITHOUT touching the index, because the index is keyed on
      // LOGICAL units, not file names: the rewrite preserves each
      // unit's row multiset, so per-unit (min, max, rows) stats are
      // unchanged and the maintained index serves the compacted
      // layout as-is. This is the q147/q230 design argument made
      // operational — a file-keyed index (Delta's add-file stats)
      // must be rewritten on OPTIMIZE; a unit-keyed one survives
      // physical re-layout. The gate builds the q231 ingest layout,
      // compacts, proves the file count strictly shrank while the
      // stored index still pins bit-exact against one-shot stats
      // over the COMPACTED table, then serves the same pruned range
      // lookup from the new layout. Oracle = the plain range filter.
      val base = s"/tmp/graft_q232_optimize_${md5Hex(dir)}"
      val fs = resetScratch(s, base)
      val orders = tbl(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val mx = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val w = mx / 8 + 1
      val withUnit = orders
        .withColumn("unit", expr(s"o_orderkey div $w").cast("int"))
        .localCheckpoint()
      val idx = ZoneMapIndex(s"$base/idx")
      idx.init(s, "int", "long")
      // KEY-INTERLEAVED arrival (stragglers for old units in every
      // batch): each of the 4 batches touches EVERY unit, so the
      // __bid= layout holds 4 small files per unit — exactly the
      // small-file accumulation OPTIMIZE exists for (the index folds
      // per-unit stats correctly under any batching)
      Seq(0, 1, 2, 3).foreach { k =>
        val b = withUnit.where(pmod(col("o_orderkey"), lit(4)) === k)
        b.write.mode("overwrite").partitionBy("unit")
          .parquet(s"$base/tbl/__bid=$k")
        idx.applyBatch(b, "unit", "o_orderkey", k.toLong)
      }
      def files(p: String): Long = {
        def rec(q: org.apache.hadoop.fs.Path): Long =
          fs.listStatus(q).map(st =>
            if (st.isDirectory) rec(st.getPath)
            else if (st.getPath.getName.endsWith(".parquet")) 1L else 0L).sum
        rec(new org.apache.hadoop.fs.Path(p))
      }
      val before = files(s"$base/tbl")
      // OPTIMIZE: one file per unit, unit dirs written by one task
      s.read.parquet(s"$base/tbl")
        .select("o_orderkey", "o_custkey", "o_totalprice", "unit")
        .repartition(col("unit"))
        .write.mode("overwrite").partitionBy("unit")
        .parquet(s"$base/opt")
      require(files(s"$base/opt") < before,
        s"compaction must shrink files: $before -> ${files(s"$base/opt")}")
      // the unit-keyed index survives the re-layout bit-exactly
      val stored = idx.read(s).collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      val oneShot = s.read.parquet(s"$base/opt").groupBy("unit")
        .agg(min(col("o_orderkey")).as("mn"), max(col("o_orderkey")).as("mx"),
          count(lit(1)).as("rows"))
        .collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      require(stored == oneShot,
        "unit-keyed index must survive compaction unchanged")
      val (lo, hi) = (mx / 4, mx / 4 + mx / 10)
      val units = idx.matchingUnits(s, lit(lo), lit(hi))
      require(units.nonEmpty && units.size < stored.size,
        s"range probe should prune some of ${stored.size} units: $units")
      s.read.parquet(s"$base/opt")
        .where(col("unit").isin(units.map(u => Integer.valueOf(u.toInt)): _*))
        .where(col("o_orderkey") >= lo && col("o_orderkey") <= hi)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    },
      // q232: compaction changes the physical layout only — the lookup
      // answers the identical plain range filter; shrink + index-
      // survival are pinned driver-side (requires, not SQL)
      """WITH m AS (SELECT max(o_orderkey) AS mx FROM orders)
        |SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
        |FROM orders o, m
        |WHERE o.o_orderkey BETWEEN m.mx // 4 AND m.mx // 4 + m.mx // 10""".stripMargin),
    Gate("q233_schema_evolution", (s, dir) => {
      // ADD-COLUMN SCHEMA EVOLUTION MID-REPLAY: q181's streamed CDC
      // merge, but the dimension GROWS a payload column between
      // micro-batches — batch 0 (even ids) applies under the original
      // (c_mktsegment, c_acctbal) shape; the store then evolves
      // (zero-IO anchor re-commit, data dirs untouched) and batch 1
      // (odd ids) carries the new c_status attribute. Pre-evolution
      // rows read back null-filled, so the final snapshot equals the
      // ONE-SHOT merge over the union schema in which even-id changes
      // never observed c_status; time travel BELOW the evolution
      // still serves the old column set (require-guarded), and that
      // pre-evolution snapshot is also emitted under the oracle
      // (snap=0 rows) — the q189 time-travel discipline applied
      // across a schema boundary.
      val base0 = s"/tmp/graft_q233_evo_${md5Hex(dir)}"
      resetScratch(s, base0)
      val in = s"$base0/in"; val ckpt = s"$base0/ckpt"
      val changes = tbl(s, dir, "orders").select(
        when(col("o_custkey") % 13 === 0, col("o_custkey") + 1000000L)
          .otherwise(col("o_custkey")).as("c_custkey"),
        when(col("o_custkey") % 11 === 0, lit("D")).otherwise(lit("U"))
          .as("op"),
        col("o_orderpriority").as("c_mktsegment"),
        col("o_totalprice").as("c_acctbal"),
        col("o_orderstatus").as("c_status"),
        col("o_orderdate").as("ts"), col("o_orderkey").as("id"))
      // the SOURCE feed is union-schema'd (one parquet stream schema);
      // the STORE starts narrow and widens mid-replay
      changes.where(pmod(col("id"), lit(2)) === 0).appendBatchTo(in, 0)
      changes.where(pmod(col("id"), lit(2)) === 1).appendBatchTo(in, 1)
      var snap = graft.streaming.SnapshotStore(s"$base0/snap",
        "c_custkey", "ts", "id", "op",
        Seq("c_mktsegment", "c_acctbal"), buckets = 16, retain = true)
      snap.init(tbl(s, dir, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal"),
        changes.schema("ts").dataType, changes.schema("id").dataType)
      val q = graft.streaming.IngestPipeline.fileSource(
          s, s.read.parquet(in).schema, in, maxFilesPerTrigger = 1)
        .writeStream
        .foreachBatch { (b: DataFrame, batchId: Long) =>
          if (batchId == 0L) snap.applyBatch(b.drop("c_status"), batchId)
          else {
            // the evolution is a DDL, caller-coordinated like Delta's
            // ALTER TABLE — guard so a foreachBatch retry cannot
            // double-add the column
            if (!snap.payloadCols.contains("c_status"))
              snap = snap.evolvePayload(s, Seq("c_status" -> "string"))
            snap.applyBatch(b, batchId)
          }
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
      // version 1 = batch 0's commit, BELOW the evolution commit: the
      // versioned anchor must serve the pre-evolution column set
      val pre = snap.readAt(s, 1L)
      require(!pre.columns.contains("c_status"),
        "pre-evolution readAt must serve the old shape")
      pre.withColumn("c_status", lit(null).cast("string"))
        .withColumn("snap", lit(0L))
        .unionByName(snap.read(s).withColumn("snap", lit(1L)))
    },
      schemaEvolutionSql,
      streaming = true),
    Gate("q234_optimize_retighten", (s, dir) => {
      // DELETE-PATH INDEX RE-TIGHTENING AT OPTIMIZE — the missing
      // maintenance hook on the q147/q230 skipping indexes: deletes
      // leave zone-map stats stale-WIDE (sound, coarser pruning) and
      // Bloom bits CANNOT unlearn (fpp decays). The OPTIMIZE pass
      // that rewrites the survivors also recomputes the TOUCHED
      // units' stats and rebuilds the TOUCHED shards' bitsets —
      // touched-bucket maintenance rewrites (O(touched index rows),
      // never O(index)) that carry the coverage receipt (#batch=)
      // UNCHANGED, because a rebuild rewrites covered state, it is
      // not new coverage. Gate: delete each doomed unit's LOW key
      // span, OPTIMIZE, rebuild, then require-pin (a) unit 2's min
      // rose STRICTLY, (b) a probe range inside the deleted span no
      // longer matches, (c) deleted keys' Bloom matches collapse
      // (fresh fpp). Serve a pruned range lookup + Bloom point
      // lookups from the compacted layout; oracle = the plain
      // post-delete filters.
      val base = s"/tmp/graft_q234_retighten_${md5Hex(dir)}"
      resetScratch(s, base)
      val orders = tbl(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val mx = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val w = mx / 8 + 1
      val cut = 2 * w / 5
      val withUnit = orders
        .withColumn("unit", expr(s"o_orderkey div $w").cast("int"))
        .localCheckpoint()
      withUnit.write.mode("overwrite").partitionBy("unit")
        .parquet(s"$base/tbl")
      val idx = ZoneMapIndex(s"$base/idx")
      idx.init(s, "int", "long")
      idx.applyBatch(withUnit, "unit", "o_orderkey", 0L)
      val bloom = graft.operators.IncrementalBloomIndex(s"$base/bidx",
        nShards = 64, words = 1024)
      bloom.init(s)
      bloom.applyBatch(withUnit, "o_orderkey", 0L)
      // DELETE the low 40% of units 2 and 3's key spans, then
      // OPTIMIZE: compact the survivors (one file per unit)
      val doomed = col("unit").isin(2, 3) && (col("o_orderkey") % w) < cut
      s.read.parquet(s"$base/tbl").where(!doomed)
        .repartition(col("unit"))
        .write.mode("overwrite").partitionBy("unit")
        .parquet(s"$base/opt")
      val opt = s.read.parquet(s"$base/opt")
      // stale-wide: a probe inside the DELETED span still matches
      def mn2: Long = idx.read(s).where(col("unit") === 2)
        .head().getLong(1)
      val mnBefore = mn2
      val probeBefore = idx.matchingUnits(s, lit(2 * w), lit(2 * w + cut / 2))
      require(probeBefore.contains(2L),
        "stale-wide stats must still match the deleted span")
      // deleted keys still Bloom-match their shards (bits can't unlearn)
      import graft.expressions.BloomMightContainCol
      val deletedProbes = withUnit.where(doomed)
        .select("o_orderkey").orderBy("o_orderkey").limit(40)
        .localCheckpoint()
      def bloomPairs: Long = bloom.read(s).join(broadcast(
          deletedProbes.select(xxhash64(col("o_orderkey")).as("__h"))
            .distinct()))
        .where(BloomMightContainCol(col("__h"), col("bloom_bits"), 7))
        .count()
      val pairsBefore = bloomPairs
      require(pairsBefore >= 40L, "pre-rebuild bits must cover deleted keys")
      // the OPTIMIZE pass re-tightens BOTH indexes for the touched
      // units/shards in the same rewrite. The zone rebuild reads ONLY
      // the touched units' directories (static literal pruning — at
      // 100 TB a rebuild must never rescan the table); the Bloom
      // rebuild scans here because THIS table is unit-laid — in the
      // q147 shard layout the same call prunes by shard directory
      val touchedUnits = Seq(2, 3)
      idx.rebuildUnits(
        opt.where(col("unit")
          .isin(touchedUnits.map(Integer.valueOf(_)): _*)),
        "unit", "o_orderkey",
        withUnit.where(doomed).select("unit").distinct())
      bloom.rebuildShards(opt, "o_orderkey",
        withUnit.where(doomed)
          .select(bloom.shardOf(col("o_orderkey")).as("shard")).distinct())
      require(mn2 > mnBefore, "unit 2's min must rise strictly")
      val probeAfter = idx.matchingUnits(s, lit(2 * w), lit(2 * w + cut / 2))
      require(!probeAfter.contains(2L) && probeAfter.size < probeBefore.size,
        s"re-tightened stats must stop matching the deleted span: " +
          s"$probeBefore -> $probeAfter")
      val pairsAfter = bloomPairs
      require(pairsAfter * 4 <= pairsBefore,
        s"rebuilt shards must shed deleted keys: $pairsBefore -> $pairsAfter")
      // serve from the compacted layout: a pruned range lookup over
      // the surviving half-span + Bloom point lookups (pre-delete
      // probe set; survivors answer, deleted keys die in the exact
      // residual)
      val (lo2, hi2) = (2 * w + cut, 2 * w + cut + w / 5)
      // both serves through the readWhere facade over the compacted
      // layout: the re-tightened zone map prunes the range's unit
      // dirs, the rebuilt Bloom's shard filter + exact semi-join
      // answer the point lookups (this table is unit-laid, so the
      // shard filter is row-group skipping, not a directory prune —
      // BloomAttachment doc)
      val table234 = graft.operators.IndexedTable(s"$base/opt",
        zoneMaps = Map("o_orderkey" -> idx),
        blooms = Seq(graft.operators.BloomAttachment("o_orderkey", bloom)))
      val rangeRows = table234.readWhere(s, Seq(
          graft.operators.IndexedTable.Range("o_orderkey",
            lit(lo2), lit(hi2))))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .withColumn("src", lit("range"))
      val probes = withUnit.where(col("o_orderkey") % 97 === 0)
        .select("o_orderkey")
      val pointRows = table234.readWhere(s, Seq(
          graft.operators.IndexedTable.KeyIn("o_orderkey", probes)))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .withColumn("src", lit("point"))
      rangeRows.unionByName(pointRows)
    },
      // q234: the DELETE-path sibling — re-tightening is pinned
      // driver-side (strictly narrower min, probe stops matching,
      // Bloom pairs collapse); the served lookups answer the plain
      // post-delete filters
      optimizeRetightenSql),
    Gate("q236_multicol_zonemap", (s, dir) => {
      // MULTI-COLUMN ZONE MAP over a Z-ORDERED layout — ZoneMapIndex
      // generalized to the full Delta add-file-stats shape: per-unit
      // (mn, mx) for EVERY indexed column, folded incrementally
      // through the same BucketedLog machine, pruning on
      // CONJUNCTIONS. The layout is 16 equal-depth slices of the
      // z-order over (custkey, orderday) scaled to a common 8-bit
      // grid — contiguous z-slices are rectangles in value space
      // (q169/q183), so BOTH columns' per-unit ranges are tight and
      // the two-predicate box reads STRICTLY fewer units than either
      // single-column predicate allows (require-pinned — the whole
      // point of N-column stats). Stats fold over any batching ==
      // one-shot (require-pinned); oracle = the plain box filter
      // (the index buys IO skipping, never answers).
      val base = s"/tmp/graft_q236_mczm_${md5Hex(dir)}"
      resetScratch(s, base)
      val t = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_custkey").as("ck"),
          datediff(col("o_orderdate"), lit("1995-01-01")).cast("long")
            .as("dd"))
      val (ckMax, ddMax) = {
        val r = t.agg(max(col("ck")), max(col("dd"))).head()
        (r.getLong(0), r.getLong(1))
      }
      // normalize both dims to one 8-bit grid before interleaving so
      // neither dominates the slice order (raw widths differ: ck is
      // dense, dd spans ~2400 days)
      val z = graft.operators.ZOrder.zValue(
        col("ck") * 256L / (ckMax + 1L), col("dd") * 256L / (ddMax + 1L), 8)
      val withUnit = t.withColumn("unit",
          ntile(16).over(Window.orderBy(z, col("o_orderkey"))).cast("int"))
        .localCheckpoint()
      withUnit.write.mode("overwrite").partitionBy("unit")
        .parquet(s"$base/tbl")
      val idx = graft.operators.MultiColZoneMapIndex(s"$base/idx",
        Seq("ck", "dd"))
      idx.init(s, "int", Seq("long", "long"))
      Seq(0, 1, 2, 3).foreach { k =>
        idx.applyBatch(
          withUnit.where(pmod(col("o_orderkey"), lit(4)) === k),
          "unit", k.toLong)
      }
      val stored = idx.read(s).collect()
        .map(r => r.getInt(0) -> r.toSeq.drop(1)).toMap
      val oneShot = withUnit.groupBy("unit")
        .agg(count(lit(1)).cast("long").as("rows"),
          min("ck").as("mn_ck"), max("ck").as("mx_ck"),
          min("dd").as("mn_dd"), max("dd").as("mx_dd"))
        .collect().map(r => r.getInt(0) -> r.toSeq.drop(1)).toMap
      require(stored == oneShot,
        "incrementally-folded multi-column stats diverged from one-shot")
      val (ckLo, ckHi) = (ckMax / 4, ckMax / 2)
      val (ddLo, ddHi) = (ddMax / 4, ddMax / 2)
      val ckOnly = idx.matchingUnits(s,
        Seq(("ck", lit(ckLo), lit(ckHi))))
      val ddOnly = idx.matchingUnits(s,
        Seq(("dd", lit(ddLo), lit(ddHi))))
      val both = idx.matchingUnits(s,
        Seq(("ck", lit(ckLo), lit(ckHi)), ("dd", lit(ddLo), lit(ddHi))))
      require(both.nonEmpty && both.size < ckOnly.size &&
        both.size < ddOnly.size,
        s"conjunction must out-prune both single predicates: " +
          s"ck=${ckOnly.size} dd=${ddOnly.size} both=${both.size}")
      // serve through readWhere: both ranges reach the multi-column
      // index as ONE conjunction probe, residual box exact
      graft.operators.IndexedTable(s"$base/tbl", multiCol = Some(idx))
        .readWhere(s, Seq(
          graft.operators.IndexedTable.Range("ck", lit(ckLo), lit(ckHi)),
          graft.operators.IndexedTable.Range("dd", lit(ddLo), lit(ddHi))))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    },
      // q236: conjunction pruning is pinned driver-side (strictly
      // fewer units than either single predicate); the served box
      // lookup answers the plain two-predicate filter
      """WITH mx AS (SELECT max(o_custkey) AS ckmax,
        |    max(datediff('day', DATE '1995-01-01', o_orderdate::DATE))
        |      AS ddmax
        |  FROM orders)
        |SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders, mx
        |WHERE o_custkey BETWEEN ckmax // 4 AND ckmax // 2
        |  AND datediff('day', DATE '1995-01-01', o_orderdate::DATE)
        |      BETWEEN ddmax // 4 AND ddmax // 2""".stripMargin),
    Gate("q237_optimize_zorder", (s, dir) => {
      // OPTIMIZE ZORDER BY — RE-CLUSTERING, the layout-CHANGING
      // maintenance pass (q232 compacts within units; this one
      // replaces the unit scheme entirely): the table starts in the
      // q230 arrival layout (linear orderkey ranges), where a
      // (custkey, orderday) box prunes NOTHING — neither column
      // correlates with arrival, so every unit's stats span the
      // domain. The pass rewrites into z-order slices over the two
      // query columns and the multi-column index is REBUILT RIDING
      // THE REWRITE (stats collected from the data the pass already
      // moves — Delta's ZORDER recomputes file stats the same way;
      // an index keyed on the OLD units cannot survive a
      // re-clustering, which is exactly the difference from q232).
      // Require-pinned: the same box reads at most HALF the rows
      // under the new layout's index that it read under the old
      // one's. Oracle = the plain box filter.
      val base = s"/tmp/graft_q237_zopt_${md5Hex(dir)}"
      resetScratch(s, base)
      val t = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_custkey").as("ck"),
          datediff(col("o_orderdate"), lit("1995-01-01")).cast("long")
            .as("dd"))
      val r0 = t.agg(max(col("o_orderkey")), max(col("ck")),
        max(col("dd"))).head()
      val (okMax, ckMax, ddMax) = (r0.getLong(0), r0.getLong(1),
        r0.getLong(2))
      val w = okMax / 8 + 1
      // BEFORE: arrival layout + its multi-column index
      val arrival = t
        .withColumn("unit", expr(s"o_orderkey div $w").cast("int"))
        .localCheckpoint()
      arrival.write.mode("overwrite").partitionBy("unit")
        .parquet(s"$base/tbl0")
      val idx0 = graft.operators.MultiColZoneMapIndex(s"$base/idx0",
        Seq("ck", "dd"))
      idx0.init(s, "int", Seq("long", "long"))
      idx0.applyBatch(arrival, "unit", 0L)
      val (ckLo, ckHi) = (ckMax / 8, ckMax / 4)
      val (ddLo, ddHi) = (ddMax / 2, 3 * ddMax / 4)
      val box = Seq(("ck", lit(ckLo), lit(ckHi)),
        ("dd", lit(ddLo), lit(ddHi)))
      def rowsRead(idx: graft.operators.MultiColZoneMapIndex): Long = {
        val units = idx.matchingUnits(s, box)
        idx.read(s).where(col("unit").cast("long")
            .isin(units.map(Long.box): _*))
          .agg(sum(col("rows"))).head().getLong(0)
      }
      val before = rowsRead(idx0)
      // OPTIMIZE ZORDER BY (ck, dd): one pass rewrites the layout
      // AND rebuilds the index from the rows it already moves
      val z = graft.operators.ZOrder.zValue(
        col("ck") * 256L / (ckMax + 1L), col("dd") * 256L / (ddMax + 1L), 8)
      val zed = s.read.parquet(s"$base/tbl0").drop("unit")
        .withColumn("unit",
          ntile(16).over(Window.orderBy(z, col("o_orderkey"))).cast("int"))
        .localCheckpoint()
      zed.repartition(col("unit"))
        .write.mode("overwrite").partitionBy("unit")
        .parquet(s"$base/tbl1")
      val idx1 = graft.operators.MultiColZoneMapIndex(s"$base/idx1",
        Seq("ck", "dd"))
      idx1.init(s, "int", Seq("long", "long"))
      idx1.applyBatch(zed, "unit", 0L)
      val after = rowsRead(idx1)
      require(after * 2 <= before,
        s"re-clustering must at least halve the box's read set: " +
          s"$before -> $after rows")
      // serve the box from the re-clustered layout through readWhere
      // (the rebuilt multi-column index prunes by default)
      graft.operators.IndexedTable(s"$base/tbl1", multiCol = Some(idx1))
        .readWhere(s, Seq(
          graft.operators.IndexedTable.Range("ck", lit(ckLo), lit(ckHi)),
          graft.operators.IndexedTable.Range("dd", lit(ddLo), lit(ddHi))))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    },
      // q237: the re-clustering benefit is pinned driver-side (the box
      // reads at most half the rows under the new layout's index); the
      // served lookup answers the plain box filter
      """WITH mx AS (SELECT max(o_custkey) AS ckmax,
        |    max(datediff('day', DATE '1995-01-01', o_orderdate::DATE))
        |      AS ddmax
        |  FROM orders)
        |SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders, mx
        |WHERE o_custkey BETWEEN ckmax // 8 AND ckmax // 4
        |  AND datediff('day', DATE '1995-01-01', o_orderdate::DATE)
        |      BETWEEN ddmax // 2 AND 3 * ddmax // 4""".stripMargin),
    Gate("q238_multiwriter_store", (s, dir) => {
      // CONCURRENT MULTI-WRITER INGEST — the Delta txn/appId
      // discipline on the BucketedLog: THREE named writers with
      // INDEPENDENT batch-id sequences (0,1,2 each — under the old
      // scalar #batch= mark, whichever writer committed first would
      // silently swallow the others' batches) fold additive facts
      // into ONE store from three real threads, every commit racing
      // through optimistic concurrency with rebase-on-loss
      // (BucketedLog.retrying: a lost race re-reads the winner's
      // state and re-merges — the merge is a pure function of what
      // it read, so the retry IS the rebase). After landing, each
      // writer crash-REPLAYS a batch with poisoned values (×999):
      // a no-op by ITS OWN txn watermark even though the other
      // writers advanced the version chain arbitrarily far past it.
      // The final state must equal the one-shot GROUP BY over all
      // nine batches — exactly-once per writer, no interleave
      // dependence, no coordination. Long-exact measures (cents)
      // so the additive fold is order-independent bit-for-bit.
      val base = s"/tmp/graft_q238_multi_${md5Hex(dir)}"
      resetScratch(s, base)
      val facts = tbl(s, dir, "orders").select(
          col("o_orderkey"),
          pmod(col("o_custkey"), lit(256L)).as("g"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .localCheckpoint()
      def batchOf(w: Int, b: Int): DataFrame = facts
        .where(pmod(col("o_orderkey"), lit(3L)) === w &&
          pmod(expr("o_orderkey div 3"), lit(3L)) === b)
        .groupBy("g").agg(count(lit(1)).cast("long").as("cnt"),
          sum("cents").cast("long").as("cents"))
      def add(cur: Option[DataFrame], b: DataFrame): DataFrame =
        cur.map(_.unionByName(b)).getOrElse(b).groupBy("g")
          .agg(sum("cnt").cast("long").as("cnt"),
            sum("cents").cast("long").as("cents"))
      val log = graft.streaming.BucketedLog(s"$base/log", Seq("g"),
        buckets = 32)
      log.init(batchOf(0, 0).limit(0))
      val failures = java.util.Collections.synchronizedList(
        new java.util.ArrayList[Throwable]())
      val threads = (0 until 3).map { w =>
        new Thread(() => {
          try {
            (0 until 3).foreach { b =>
              graft.streaming.BucketedLog.retrying(64) {
                log.applyBatch(batchOf(w, b), b.toLong, s"w$w")(add)
              }
            }
            // poisoned crash-replay: the writer's own mark screens it
            graft.streaming.BucketedLog.retrying(64) {
              log.applyBatch(
                batchOf(w, 1).withColumn("cents", col("cents") * 999L),
                1L, s"w$w")(add)
            }
          } catch { case e: Throwable => failures.add(e) }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      import scala.jdk.CollectionConverters._
      require(failures.asScala.isEmpty,
        s"every writer must land via retry: ${failures.asScala.toList}")
      (0 until 3).foreach { w =>
        require(log.txnWatermark(s, s"w$w") == 2L,
          s"writer w$w watermark must be 2")
      }
      log.read(s)
    },
      """SELECT o_custkey % 256 AS g, count(*)::BIGINT AS cnt,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM orders GROUP BY 1""".stripMargin),
    Gate("q239_deletion_vectors", (s, dir) => {
      // DELETE WITHOUT REWRITE — equality deletion vectors, merge-on-
      // read (the Iceberg equality-delete / Delta DV discipline; the
      // copy-on-write sibling is q234). Three delete batches land as
      // O(|keys|) sidecar commits while the table's data files stay
      // BYTE-UNTOUCHED (full recursive listing pinned identical —
      // mtime and length of every file); a replayed delete batch is
      // a no-op by the sidecar's #batch= watermark. The read path
      // splits by the bounded dirty-unit set: clean units stream
      // through VERBATIM (no join), only dirty units pay a broadcast
      // anti-join. OPTIMIZE purge then rewrites ONLY the dirty units
      // (require-pinned: clean units' files byte-identical across
      // the purge, sidecar drained) and the served aggregate must be
      // bit-identical before and after — the purge trades read-time
      // work for storage hygiene, never answers. Oracle = the plain
      // NOT-deleted filter, emitted once per phase.
      val base = s"/tmp/graft_q239_dv_${md5Hex(dir)}"
      val fs = resetScratch(s, base)
      val orders = tbl(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val mx = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val w = mx / 8 + 1
      val withUnit = orders
        .withColumn("unit", expr(s"o_orderkey div $w").cast("int"))
        .localCheckpoint()
      withUnit.write.mode("overwrite").partitionBy("unit")
        .parquet(s"$base/tbl")
      val dv = graft.operators.DeletionVectors(s"$base/tbl", s"$base/dv",
        keyCol = "o_orderkey")
      dv.init(withUnit)
      def listing(): Map[String, (Long, Long)] = {
        val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$base/tbl"),
          true)
        val b = Map.newBuilder[String, (Long, Long)]
        while (it.hasNext) { val f = it.next()
          b += f.getPath.toString -> (f.getModificationTime, f.getLen) }
        b.result()
      }
      val before = listing()
      dv.delete(withUnit.where(col("unit").isin(2, 3) &&
          col("o_orderkey") % 7 === 0)
        .select("unit", "o_orderkey"), 0L)
      dv.delete(withUnit.where(col("unit") === 5 &&
          col("o_custkey") % 5 === 0)
        .select("unit", "o_orderkey"), 1L)
      dv.delete(withUnit.where(col("unit") === 2 &&
          col("o_orderkey") % 11 === 3)
        .select("unit", "o_orderkey"), 2L)
      // crash-replay of batch 1 with a WIDER key set: screened
      // outright by the sidecar's #batch= watermark
      dv.delete(withUnit.where(col("unit") === 5)
        .select("unit", "o_orderkey"), 1L)
      require(listing() == before,
        "a DV delete must not touch a single table data file")
      require(dv.dirtyUnits(s) == Seq(2, 3, 5),
        s"dirty units: ${dv.dirtyUnits(s)}")
      def served: DataFrame = dv.read(s).groupBy("unit")
        .agg(count(lit(1)).cast("long").as("cnt"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      val mor = served.withColumn("phase", lit("mor")).localCheckpoint()
      val rewritten = dv.purge(s)
      require(rewritten == Seq(2, 3, 5), s"purged units: $rewritten")
      require(dv.dirtyUnits(s).isEmpty, "sidecar must drain at purge")
      val after = listing()
      def clean(m: Map[String, (Long, Long)]) = m.view.filterKeys(p =>
        !p.matches(""".*unit=(2|3|5)/.*""")).toMap
      require(clean(after) == clean(before),
        "purge must leave clean units' files byte-identical")
      Seq(2, 3, 5).foreach { u =>
        val files = after.keySet.filter(_.contains(s"unit=$u/"))
          .filter(_.endsWith(".parquet"))
        require(files.size == 1, s"unit $u must compact to one file")
      }
      mor.unionByName(served.withColumn("phase", lit("purged")))
    },
      // q239: delete-without-rewrite is pinned driver-side (file
      // listing identical across deletes; purge touches only dirty
      // units, drains the sidecar); the served aggregate answers the
      // plain NOT-deleted filter, once per phase
      """WITH m AS (SELECT max(o_orderkey) AS mx FROM orders),
        |t AS (SELECT o.*, (o.o_orderkey // (m.mx // 8 + 1))::INT AS unit
        |  FROM orders o, m),
        |live AS (SELECT * FROM t WHERE NOT (
        |  (unit IN (2, 3) AND o_orderkey % 7 = 0)
        |  OR (unit = 5 AND o_custkey % 5 = 0)
        |  OR (unit = 2 AND o_orderkey % 11 = 3))),
        |a AS (SELECT unit, count(*)::BIGINT AS cnt,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM live GROUP BY 1)
        |SELECT unit, cnt, cents, 'mor' AS phase FROM a
        |UNION ALL
        |SELECT unit, cnt, cents, 'purged' AS phase FROM a""".stripMargin),
    Gate("q240_incr_inverted_index", (s, dir) => {
      // INCREMENTALLY-MAINTAINED INVERTED INDEX — q100's BM25
      // answered FROM STORED STATE: the corpus arrives in four
      // ingest batches, each folding its postings into a TERM-keyed
      // BucketedLog (touched buckets only) and its (n, sumdl) into an
      // additive stats row; a poisoned replay of batch 2 is screened
      // by the #batch= watermark. The query path never re-tokenizes
      // the corpus: it reads ONLY the buckets the query's terms hash
      // to (BucketedLog.readFor — a directory-pruned point lookup,
      // O(query-term postings), never O(index)), derives df exactly
      // within the slice (a term's postings live wholly in its
      // bucket), and reuses Retrieval.bm25Rank verbatim — so the
      // stored-index answer is bit-identical to q100's from-scratch
      // form and q100's SQL is the oracle, unchanged.
      val base = s"/tmp/graft_q240_invidx_${md5Hex(dir)}"
      resetScratch(s, base)
      val docs = tbl(s, dir, "documents").localCheckpoint()
      val idx = graft.operators.InvertedIndex(base)
      idx.init(s)
      (0 until 4).foreach { b =>
        idx.ingest(docs.where(pmod(col("doc_id"), lit(4L)) === b),
          "doc_id", "text", b.toLong)
      }
      // poisoned crash-replay: batch 2 re-delivered with doubled text
      // (would double every tf) — a no-op by the #batch= watermark
      idx.ingest(docs.where(pmod(col("doc_id"), lit(4L)) === 2)
          .withColumn("text", concat(col("text"), lit(" "), col("text"))),
        "doc_id", "text", 2L)
      idx.bm25TopK(docs.where(pmod(col("doc_id"), lit(101L)) === 0),
        "doc_id", "text", k = 5, excludeSelf = true)
    },
      // q240: the SAME retrieval answered from the incrementally-
      // maintained index — the stored postings/stats must reproduce
      // the from-scratch BM25 bit-identically, so q100's SQL is the
      // oracle verbatim
      bm25RetrievalSql),
    Gate("q241_stream_search_index", (s, dir) => {
      // STREAMING SEARCH INGEST — the q231 co-maintenance discipline
      // applied to retrieval: one foreachBatch loop lands each
      // micro-batch of documents in an idempotent `__bid=` data dir
      // AND folds its postings + corpus stats into the stored
      // inverted index (term-keyed touched-bucket commits, replay-
      // screened per state). After the drain the gate checks the
      // fence — coveredBatch (the MIN of the two states' #batch=
      // receipts: postings commit first, so min is sound) equals the
      // last arrived batch — then answers q100's BM25 FROM THE STORE,
      // never re-tokenizing the landed corpus. This is how a search
      // deployment keeps its index live against a 100 TB firehose:
      // O(batch) data write + O(batch postings + touched buckets)
      // index refresh per arrival. Oracle = q100's SQL verbatim.
      val base = s"/tmp/graft_q241_ssi_${md5Hex(dir)}"
      resetScratch(s, base)
      val in = s"$base/in"; val ckpt = s"$base/ckpt"
      val docs = tbl(s, dir, "documents")
        .select("doc_id", "text").localCheckpoint()
      (0 until 4).foreach { k =>
        docs.where(pmod(col("doc_id"), lit(4L)) === k)
          .appendBatchTo(in, k)
      }
      val idx = graft.operators.InvertedIndex(s"$base/idx")
      idx.init(s)
      val q = graft.streaming.IngestPipeline.fileSource(
          s, s.read.parquet(in).schema, in, maxFilesPerTrigger = 1)
        .writeStream
        .foreachBatch { (b: DataFrame, bid: Long) =>
          b.write.mode("overwrite").parquet(s"$base/tbl/__bid=$bid")
          idx.ingest(b, "doc_id", "text", bid)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
      require(idx.coveredBatch(s) == 3L,
        s"index coverage receipt must equal the last arrived batch: " +
          s"${idx.coveredBatch(s)}")
      // queries drawn from the LANDED corpus (the __bid dirs), the
      // answer from the stored index alone
      val landed = s.read.parquet(s"$base/tbl")
      require(landed.count() == docs.count(), "every doc must land")
      idx.bm25TopK(landed.where(pmod(col("doc_id"), lit(101L)) === 0),
        "doc_id", "text", k = 5, excludeSelf = true)
    },
      // q241: the streaming co-maintenance changes WHEN postings land
      // (per ingest batch, fence-checked), not what a query answers
      bm25RetrievalSql,
      streaming = true),
    Gate("q242_stored_proximity", (s, dir) => {
      // POSITIONAL POSTINGS — q221's phrase-proximity ranking
      // answered FROM THE STORE: the index keeps per-(term, doc)
      // token positions (the Lucene positional-postings discipline —
      // what separates "can do BM25" from "can do phrases"), so the
      // query reads ONLY the two terms' buckets (readFor point
      // lookup), explodes their stored position lists and ranks by
      // minimum pair distance — O(two posting lists), the corpus is
      // never re-tokenized. min-dist is shift-invariant, so the
      // store's 0-based positions agree with the oracle's 1-based
      // numbering. Oracle = q221's SQL verbatim.
      val base = s"/tmp/graft_q242_prox_${md5Hex(dir)}"
      resetScratch(s, base)
      val docs = tbl(s, dir, "documents").localCheckpoint()
      val idx = graft.operators.InvertedIndex(base)
      idx.init(s)
      (0 until 2).foreach { b =>
        idx.ingest(docs.where(pmod(col("doc_id"), lit(2L)) === b),
          "doc_id", "text", b.toLong)
      }
      idx.proximityTopK(s, "order", "table", k = 20)
    },
      // q242: the same proximity ranking answered from the stored
      // POSITIONAL postings (min-dist is shift-invariant, so the
      // store's 0-based positions and the SQL's 1-based agree)
      proximitySql),
    Gate("q243_deep_clone", (s, dir) => {
      // DEEP CLONE — fork-for-experiment on the log-structured store
      // (the Delta CLONE discipline): an additive store is cloned at
      // a snapshot (verbatim bucket file copy, O(current state), no
      // history, watermarks RESET), then the SOURCE ingests one more
      // batch and the CLONE ingests a DIFFERENT one — reusing batch
      // id 0 the source already consumed, legal precisely because a
      // clone is a new store with fresh stream identities. Each side
      // must equal its own one-shot fold: the snapshot plus only its
      // own post-fork batch — full isolation both ways. Long-exact
      // measures; oracle = the two folds in SQL, side-tagged.
      val base = s"/tmp/graft_q243_clone_${md5Hex(dir)}"
      resetScratch(s, base)
      val facts = tbl(s, dir, "orders").select(
          col("o_orderkey"),
          pmod(col("o_custkey"), lit(128L)).as("g"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .localCheckpoint()
      def agg(d: DataFrame): DataFrame = d.groupBy("g")
        .agg(count(lit(1)).cast("long").as("cnt"),
          sum("cents").cast("long").as("cents"))
      def add(cur: Option[DataFrame], b: DataFrame): DataFrame =
        cur.map(_.unionByName(b)).getOrElse(b).groupBy("g")
          .agg(sum("cnt").cast("long").as("cnt"),
            sum("cents").cast("long").as("cents"))
      val src = graft.streaming.BucketedLog(s"$base/src", Seq("g"),
        buckets = 16)
      src.init(agg(facts).limit(0))
      (0 until 2).foreach { b =>
        src.applyBatch(
          agg(facts.where(pmod(col("o_orderkey"), lit(2L)) === b)),
          b.toLong)(add)
      }
      val clone = src.cloneTo(s, s"$base/clone")
      // the fork: source and clone each take a DIFFERENT extra batch;
      // the clone reuses id 0 (fresh watermarks by contract)
      src.applyBatch(
        agg(facts.where(col("o_orderkey") % 5 === 0)), 2L)(add)
      clone.applyBatch(
        agg(facts.where(col("o_orderkey") % 7 === 0)), 0L)(add)
      src.read(s).withColumn("side", lit("src"))
        .unionByName(clone.read(s).withColumn("side", lit("clone")))
    },
      // q243: each side = the snapshot fold plus only its own
      // post-fork batch (clone isolation is the claim; the reused
      // batch id is fresh on the clone by contract)
      """WITH f AS (SELECT o_custkey % 128 AS g,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey
        |  FROM orders),
        |b AS (SELECT g, count(*)::BIGINT AS cnt,
        |    CAST(sum(cents) AS BIGINT) AS cents FROM f GROUP BY 1),
        |e5 AS (SELECT g, count(*)::BIGINT AS cnt,
        |    CAST(sum(cents) AS BIGINT) AS cents FROM f
        |  WHERE o_orderkey % 5 = 0 GROUP BY 1),
        |e7 AS (SELECT g, count(*)::BIGINT AS cnt,
        |    CAST(sum(cents) AS BIGINT) AS cents FROM f
        |  WHERE o_orderkey % 7 = 0 GROUP BY 1)
        |SELECT b.g, (b.cnt + coalesce(e5.cnt, 0))::BIGINT AS cnt,
        |  CAST(b.cents + coalesce(e5.cents, 0) AS BIGINT) AS cents,
        |  'src' AS side
        |FROM b LEFT JOIN e5 USING (g)
        |UNION ALL
        |SELECT b.g, (b.cnt + coalesce(e7.cnt, 0))::BIGINT,
        |  CAST(b.cents + coalesce(e7.cents, 0) AS BIGINT), 'clone'
        |FROM b LEFT JOIN e7 USING (g)""".stripMargin),
    Gate("q245_ingest_expectations", (s, dir) => {
      // INGEST EXPECTATIONS — declarative constraints screened at the
      // lakehouse door (the Delta Live Tables EXPECT discipline):
      // three arrival batches carry five deterministic corruption
      // classes — null keys (%13), range violations (%17 negative
      // cents), FK violations (%23 unknown custkey), within-batch
      // duplicates (%11 copies), and re-ingests of keys already
      // landed (%19 batch-0 keys replayed into batch 2). Every row
      // either passes ALL checks or lands in quarantine tagged with
      // the FIRST violated check (fixed precedence) — violations are
      // data, never silent drops. The unique-vs-store check probes
      // the key store through BucketedLog.readFor — O(batch-touched
      // buckets), never O(store), which is what makes PK enforcement
      // affordable against a 100 TB history. Oracle = the same
      // injections + precedence as one SQL CASE chain.
      val base = s"/tmp/graft_q245_expect_${md5Hex(dir)}"
      resetScratch(s, base)
      import graft.operators.Expectations
      val o = tbl(s, dir, "orders").select(
        col("o_orderkey").as("okey"), col("o_custkey").as("ck0"),
        round(col("o_totalprice") * 100).cast("long").as("cents0"))
      val baseRows = o.select(col("okey"),
          pmod(col("okey"), lit(3L)).cast("int").as("b"), lit(0).as("seq"),
          when(col("okey") % 13 === 0, lit(null).cast("long"))
            .otherwise(col("okey")).as("k"),
          when(col("okey") % 23 === 0, col("ck0") + 1000000000L)
            .otherwise(col("ck0")).as("ck"),
          when(col("okey") % 17 === 0, -col("cents0") - 1)
            .otherwise(col("cents0")).as("cents"))
      val dupInBatch = baseRows.where(col("okey") % 11 === 0)
        .withColumn("seq", lit(1))
        .withColumn("cents", col("cents") + 7L)
      val dupVsStore = baseRows.where(col("okey") % 19 === 0 &&
          col("b") === 0 && col("okey") % 13 =!= 0 &&
          col("okey") % 17 =!= 0 && col("okey") % 23 =!= 0)
        .withColumn("b", lit(2)).withColumn("seq", lit(2))
      val rows = baseRows.unionByName(dupInBatch).unionByName(dupVsStore)
        .localCheckpoint()
      val custKeys = tbl(s, dir, "customer")
        .select(col("c_custkey").as("ck")).distinct()
      val store = graft.streaming.BucketedLog(s"$base/keys", Seq("k"),
        buckets = 32)
      store.init(rows.select("k").limit(0))
      val parts = (0 until 3).map { b =>
        val batch = rows.where(col("b") === b)
          .join(broadcast(custKeys.withColumn("__fk", lit(1))),
            Seq("ck"), "left")
        var sc = Expectations.screen(batch, Seq(
          "null_key" -> col("k").isNotNull,
          "range" -> (col("cents") >= 0),
          "fk" -> (col("__fk") === 1)))
        sc = Expectations.dedupInBatch(sc, Seq("k"), "seq", "dup_in_batch")
        sc = Expectations.dedupVsStore(sc, store, "k", "dup_vs_store")
        val out = sc.localCheckpoint()
        store.applyBatch(
          Expectations.accepted(out).select("k"), b.toLong) { (cur, bb) =>
          cur.map(_.unionByName(bb)).getOrElse(bb).distinct()
        }
        out
      }
      parts.reduce(_ unionByName _)
        .withColumn("reason",
          coalesce(col(Expectations.ReasonCol), lit("accepted")))
        .groupBy("reason")
        .agg(count(lit(1)).cast("long").as("n"),
          sum("cents").cast("long").as("cents"))
    },
      // q245: same injections + precedence as one CASE chain; the
      // dup-vs-store shortcut (seq=2 ⇒ replayed key) is valid because
      // injected replays are exactly batch-0-accepted keys by
      // construction — Spark runs the general readFor probe
      """WITH o AS (SELECT o_orderkey AS okey, o_custkey AS ck0,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents0
        |  FROM orders),
        |base AS (SELECT okey, (okey % 3)::INT AS b, 0 AS seq,
        |    CASE WHEN okey % 13 = 0 THEN NULL ELSE okey END AS k,
        |    CASE WHEN okey % 23 = 0 THEN ck0 + 1000000000 ELSE ck0 END
        |      AS ck,
        |    CASE WHEN okey % 17 = 0 THEN -cents0 - 1 ELSE cents0 END
        |      AS cents
        |  FROM o),
        |dupb AS (SELECT okey, b, 1 AS seq, k, ck, cents + 7 AS cents
        |  FROM base WHERE okey % 11 = 0),
        |dups AS (SELECT okey, 2 AS b, 2 AS seq, k, ck, cents
        |  FROM base WHERE okey % 19 = 0 AND b = 0 AND okey % 13 <> 0
        |    AND okey % 17 <> 0 AND okey % 23 <> 0),
        |rows_ AS (SELECT * FROM base UNION ALL SELECT * FROM dupb
        |  UNION ALL SELECT * FROM dups),
        |scr AS (SELECT *,
        |    CASE WHEN k IS NULL THEN 'null_key'
        |         WHEN cents < 0 THEN 'range'
        |         WHEN ck NOT IN (SELECT c_custkey FROM customer)
        |           THEN 'fk'
        |    END AS r0 FROM rows_),
        |db AS (SELECT *,
        |    CASE WHEN r0 IS NULL AND
        |      sum(CASE WHEN r0 IS NULL THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY b, k ORDER BY seq
        |          ROWS UNBOUNDED PRECEDING) > 1
        |      THEN 'dup_in_batch' ELSE r0 END AS r1 FROM scr),
        |fin AS (SELECT *, CASE WHEN r1 IS NULL AND seq = 2
        |    THEN 'dup_vs_store' ELSE r1 END AS reason FROM db)
        |SELECT coalesce(reason, 'accepted') AS reason,
        |  count(*)::BIGINT AS n, CAST(sum(cents) AS BIGINT) AS cents
        |FROM fin GROUP BY 1""".stripMargin),
    Gate("q247_index_delete", (s, dir) => {
      // INDEX DELETE — the lifecycle step an append-only postings
      // store lacks: after two ingest batches, every %9 doc is
      // DELETED from the stored index — postings purged by a
      // touched-bucket maintenance rewrite (only the buckets the
      // docs' terms hash to, never O(index)) and the corpus stats
      // decremented by the NAMED WRITER 'deletes' (its own batch-id
      // sequence and txn watermark, independent of the ingest
      // stream's — the multi-writer machinery in its natural
      // deployment). A poisoned full replay of the delete batch is a
      // no-op: the posting purge is idempotent, the stats decrement
      // is screened by the deletes-writer's watermark. The surviving
      // queries must then answer the REDUCED corpus bit-exactly —
      // df, N and avgdl all shrink, indistinguishable from an index
      // that never contained the docs. Oracle = q100's SQL over the
      // filtered corpus.
      val base = s"/tmp/graft_q247_idxdel_${md5Hex(dir)}"
      resetScratch(s, base)
      val docs = tbl(s, dir, "documents").localCheckpoint()
      val idx = graft.operators.InvertedIndex(base)
      idx.init(s)
      (0 until 2).foreach { b =>
        idx.ingest(docs.where(pmod(col("doc_id"), lit(2L)) === b),
          "doc_id", "text", b.toLong)
      }
      val doomed = docs.where(pmod(col("doc_id"), lit(9L)) === 0)
      idx.deleteDocs(doomed, "doc_id", "text", 0L)
      // poisoned replay: same delete batch id, doubled text (would
      // double the stats decrement) — watermark-screened
      idx.deleteDocs(doomed
          .withColumn("text", concat(col("text"), lit(" "), col("text"))),
        "doc_id", "text", 0L)
      idx.bm25TopK(docs.where(pmod(col("doc_id"), lit(101L)) === 0 &&
          pmod(col("doc_id"), lit(9L)) =!= 0),
        "doc_id", "text", k = 5, excludeSelf = true)
    },
      // q238: the nine per-writer batches PARTITION orders (3 writers ×
      // 3 batches on o_orderkey residues), so the store's final additive
      // state is the plain one-shot GROUP BY — exactly-once per writer
      // (poisoned replays screened by each writer's own txn watermark)
      // and interleave-independence are what the gate proves
      // q247: the post-delete index must be indistinguishable from one
      // never containing the docs — q100's derivation over the reduced
      // corpus, surviving queries only
      bm25RetrievalSqlFor("doc_id % 9 <> 0",
      "doc_id % 101 = 0 AND doc_id % 9 <> 0")),
    Gate("q248_conjunctive_search", (s, dir) => {
      // CONJUNCTIVE (AND) SEARCH FROM THE STORE — the multi-term
      // filter next to BM25 (OR) and proximity: docs containing ALL
      // of {order, table, the}, answered from stored postings by the
      // classic document-at-a-time walk — posting lists intersect
      // SMALLEST-FIRST (k−1 equi-joins ordered by ascending df, each
      // bounded by the rarest list's only-shrinking candidate set;
      // spec-pinned in InvertedIndexSpec), never a groupBy-count
      // that would shuffle the most common term's full postings.
      // Reads only the three terms' buckets (readFor point lookup);
      // ranking is exact integer math (total_tf desc, doc_id).
      // Oracle = the plain multi-term HAVING-count filter.
      val base = s"/tmp/graft_q248_conj_${md5Hex(dir)}"
      resetScratch(s, base)
      val docs = tbl(s, dir, "documents").localCheckpoint()
      val idx = graft.operators.InvertedIndex(base)
      idx.init(s)
      (0 until 2).foreach { b =>
        idx.ingest(docs.where(pmod(col("doc_id"), lit(2L)) === b),
          "doc_id", "text", b.toLong)
      }
      idx.conjunctiveTopK(s, Seq("order", "table", "the"), k = 20)
    },
      // q248: AND-retrieval is the plain multi-term filter — docs whose
      // distinct matched terms count all 3, ranked by exact integer
      // (total_tf desc, doc_id); the store's walk order (rarest-first
      // intersection) is a plan property, invisible to the answer
      s"""WITH toks AS ($toksCte),
         |tfc AS (SELECT doc_id, w, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(t) AS w FROM toks)
         |  WHERE w IN ('order', 'table', 'the') GROUP BY doc_id, w),
         |m AS (SELECT doc_id, sum(tf) AS total_tf, min(tf) AS min_tf
         |  FROM tfc GROUP BY doc_id HAVING count(*) = 3)
         |SELECT doc_id, CAST(total_tf AS BIGINT) AS total_tf,
         |  CAST(min_tf AS BIGINT) AS min_tf, rank
         |FROM (SELECT *, row_number() OVER (
         |    ORDER BY total_tf DESC, doc_id) AS rank FROM m)
         |WHERE rank <= 20""".stripMargin),
    Gate("q249_phrase_search", (s, dir) => {
      // EXACT PHRASE SEARCH FROM THE STORE — the quoted-string query
      // ("big order scan"), completing the stored-search surface:
      // BM25 (q240, OR), proximity (q242, near), AND (q248),
      // adjacency (this). Term i's stored positions shift by −i so a
      // phrase occurrence is one shared anchor; the intersection is
      // the rarest-first document-at-a-time walk on (doc, anchor) —
      // k−1 equi-joins bounded by the rarest term's postings, the
      // corpus never re-tokenized. Counts/positions exact integers
      // (0-based anchors, overlapping occurrences each count).
      // Oracle = the plain 3-gram scan.
      val base = s"/tmp/graft_q249_phrase_${md5Hex(dir)}"
      resetScratch(s, base)
      val docs = tbl(s, dir, "documents").localCheckpoint()
      val idx = graft.operators.InvertedIndex(base)
      idx.init(s)
      (0 until 2).foreach { b =>
        idx.ingest(docs.where(pmod(col("doc_id"), lit(2L)) === b),
          "doc_id", "text", b.toLong)
      }
      idx.phraseTopK(s, Seq("big", "order", "scan"), k = 20)
    },
      // q249: exact phrase match is the plain 3-gram scan — each
      // consecutive-token window tested literally; first_pos converts
      // the oracle's 1-based token index to the store's 0-based
      s"""WITH toks AS ($toksCte),
         |p AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3, i
         |  FROM toks, unnest(generate_series(1, len(t) - 2)) AS g(i)),
         |m AS (SELECT doc_id, count(*)::BIGINT AS n_occurrences,
         |    (min(i) - 1)::BIGINT AS first_pos
         |  FROM p WHERE w1 = 'big' AND w2 = 'order' AND w3 = 'scan'
         |  GROUP BY doc_id)
         |SELECT doc_id, n_occurrences, first_pos, rank
         |FROM (SELECT *, row_number() OVER (
         |    ORDER BY n_occurrences DESC, doc_id) AS rank FROM m)
         |WHERE rank <= 20""".stripMargin),
    Gate("q250_tombstone_delete", (s, dir) => {
      // DEFERRED (TOMBSTONED) INDEX DELETE — the merge-on-read dual
      // of q247's eager purge: q247's touched-bucket rewrite hits
      // every bucket the doomed docs' terms hash to (~O(index) for
      // real text — the same amplification segment ingest removed),
      // while a tombstone delete commits only the doomed ids
      // (O(batch)) plus the watermark-screened stats decrement.
      // Every query subtracts the tombstone set BEFORE df, so the
      // answer is bit-identical to an index never containing the
      // docs; ONE amortized purgeDeletes pass (Lucene's delete-then-
      // merge) then physically drops the postings, drains the
      // tombstones, and the gate require-pins the served answer
      // IDENTICAL across the purge. A poisoned replay of the delete
      // batch is a no-op (idempotent tombstone union by #batch=,
      // stats screened by the deletes-writer's txn watermark).
      // Oracle = q100's SQL over the reduced (%7 removed) corpus.
      val base = s"/tmp/graft_q250_tombdel_${md5Hex(dir)}"
      resetScratch(s, base)
      val docs = tbl(s, dir, "documents").localCheckpoint()
      val idx = graft.operators.InvertedIndex(base)
      idx.init(s)
      (0 until 2).foreach { b =>
        idx.ingest(docs.where(pmod(col("doc_id"), lit(2L)) === b),
          "doc_id", "text", b.toLong)
      }
      val doomed = docs.where(pmod(col("doc_id"), lit(7L)) === 0)
      idx.deleteDocsDeferred(doomed, "doc_id", "text", 0L)
      // poisoned replay: doubled text would double the stats decrement
      idx.deleteDocsDeferred(doomed
          .withColumn("text", concat(col("text"), lit(" "), col("text"))),
        "doc_id", "text", 0L)
      require(idx.tombstoneCount(s) > 0L, "tombstones must be pending")
      val queries = docs.where(pmod(col("doc_id"), lit(101L)) === 0 &&
        pmod(col("doc_id"), lit(7L)) =!= 0).localCheckpoint()
      def answer() = idx.bm25TopK(queries, "doc_id", "text", k = 5,
        excludeSelf = true)
      val before = answer().orderBy("query_id", "rank").collect().toSeq
      idx.purgeDeletes(s)
      require(idx.tombstoneCount(s) == 0L, "purge must drain tombstones")
      val after = answer().orderBy("query_id", "rank").collect().toSeq
      require(before == after,
        "served answer must be bit-identical across the purge")
      answer()
    },
      // q250: a tombstoned-then-purged index must be indistinguishable
      // from one never containing the docs — q100's derivation over
      // the reduced corpus (the q247 contract, merge-on-read flavor)
      bm25RetrievalSqlFor("doc_id % 7 <> 0",
      "doc_id % 101 = 0 AND doc_id % 7 <> 0")),
    Gate("q251_multiwriter_search_ingest", (s, dir) => {
      // CONCURRENT MULTI-WRITER SEARCH INGEST — q238's txn machinery
      // in the inverted index's natural deployment: TWO independent
      // ingest streams (own batch-id sequences, real threads) fold
      // disjoint halves of the corpus into ONE shared index, every
      // postings append and stats fold racing through optimistic
      // concurrency with rebase-on-loss (a lost segment append just
      // re-appends against the new head — segment rows are version-
      // independent). Each writer then crash-REPLAYS a poisoned
      // batch (doubled text — would double tf and the stats), a
      // no-op by ITS OWN #txn watermark regardless of how far the
      // other advanced the chain. Fences are per-stream (coveredTxn
      // = min of both states' marks). The served BM25 must equal
      // q100's from-scratch form bit-exactly — the index cannot
      // tell which writer landed which half. Oracle = q100's SQL.
      val base = s"/tmp/graft_q251_mwsi_${md5Hex(dir)}"
      resetScratch(s, base)
      val docs = tbl(s, dir, "documents").localCheckpoint()
      val idx = graft.operators.InvertedIndex(base)
      idx.init(s)
      val failures = java.util.Collections.synchronizedList(
        new java.util.ArrayList[Throwable]())
      val threads = (0 until 2).map { w =>
        new Thread(() => {
          try {
            (0 until 2).foreach { b =>
              idx.ingest(docs.where(pmod(col("doc_id"), lit(2L)) === w &&
                  pmod(expr("doc_id div 2"), lit(2L)) === b),
                "doc_id", "text", b.toLong, s"ing$w")
            }
            // poisoned crash-replay of this writer's batch 1
            idx.ingest(docs.where(pmod(col("doc_id"), lit(2L)) === w &&
                  pmod(expr("doc_id div 2"), lit(2L)) === 1)
                .withColumn("text",
                  concat(col("text"), lit(" "), col("text"))),
              "doc_id", "text", 1L, s"ing$w")
          } catch { case e: Throwable => failures.add(e) }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      import scala.jdk.CollectionConverters._
      require(failures.asScala.isEmpty,
        s"every ingest stream must land via retry: " +
          s"${failures.asScala.toList}")
      (0 until 2).foreach { w =>
        require(idx.coveredTxn(s, s"ing$w") == 1L,
          s"stream ing$w must be fenced at batch 1")
      }
      idx.bm25TopK(docs.where(pmod(col("doc_id"), lit(101L)) === 0),
        "doc_id", "text", k = 5, excludeSelf = true)
    },
      // q251: two racing ingest streams must produce the identical
      // index a single stream would — q100's SQL verbatim
      bm25RetrievalSql),
    Gate("q252_stream_co_deletes", (s, dir) => {
      // STREAMING CO-MAINTAINED DELETES — the missing lifecycle leg
      // of q241's search-ingest loop: ONE foreachBatch drain carries
      // BOTH an ingest stream and a delete stream against the same
      // index. Each micro-batch lands its new docs (segment append +
      // stats fold, #batch=-screened) AND tombstones the previous
      // slice's %7 docs (deleteDocsDeferred — O(batch) tombstone
      // union + the deletes-writer's watermark-screened stats
      // decrement), so deletes arrive interleaved with ingest like a
      // real CDC feed. Fences are per-stream: coveredBatch (min of
      // postings/stats #batch=) AND coveredDeletes (min of the
      // delete writer's #txn.deletes= marks in the tombstone and
      // stats states) must both equal the last micro-batch. Poisoned
      // streams are no-ops by their own marks; one amortized
      // purgeDeletes then drops the doomed postings with the served
      // answer require-pinned bit-identical across the purge.
      // Oracle = q100's SQL over (ingested − deleted).
      val base = s"/tmp/graft_q252_codel_${md5Hex(dir)}"
      resetScratch(s, base)
      val in = s"$base/in"; val ckpt = s"$base/ckpt"
      val docs = tbl(s, dir, "documents")
        .select("doc_id", "text").localCheckpoint()
      (0 until 4).foreach { k =>
        val ins = docs.where(pmod(col("doc_id"), lit(4L)) === k)
          .withColumn("op", lit("ins"))
        val del =
          if (k == 0) ins.limit(0)
          else docs.where(pmod(col("doc_id"), lit(4L)) === (k - 1) &&
              pmod(col("doc_id"), lit(7L)) === 0)
            .withColumn("op", lit("del"))
        ins.unionByName(del).appendBatchTo(in, k)
      }
      val idx = graft.operators.InvertedIndex(s"$base/idx")
      idx.init(s)
      val q = graft.streaming.IngestPipeline.fileSource(
          s, s.read.parquet(in).schema, in, maxFilesPerTrigger = 1)
        .writeStream
        .foreachBatch { (b: DataFrame, bid: Long) =>
          idx.ingest(b.where(col("op") === "ins"), "doc_id", "text", bid)
          idx.deleteDocsDeferred(b.where(col("op") === "del"),
            "doc_id", "text", bid)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
      require(idx.coveredBatch(s) == 3L && idx.coveredDeletes(s) == 3L,
        s"both streams must be fenced at the last micro-batch: " +
          s"ingest=${idx.coveredBatch(s)} deletes=${idx.coveredDeletes(s)}")
      require(idx.tombstoneCount(s) > 0L, "tombstones must be pending")
      // poisoned crash-replays of BOTH streams: doubled text would
      // double tf / the stats decrement — no-ops by each stream's mark
      idx.ingest(docs.where(pmod(col("doc_id"), lit(4L)) === 2)
          .withColumn("text", concat(col("text"), lit(" "), col("text"))),
        "doc_id", "text", 2L)
      idx.deleteDocsDeferred(
        docs.where(pmod(col("doc_id"), lit(4L)) === 1 &&
            pmod(col("doc_id"), lit(7L)) === 0)
          .withColumn("text", concat(col("text"), lit(" "), col("text"))),
        "doc_id", "text", 2L)
      // live = ingested minus deleted: %7 docs of slices 0..2 are gone
      val live = col("doc_id") % 7 =!= 0 || col("doc_id") % 4 === 3
      val queries = docs.where(pmod(col("doc_id"), lit(101L)) === 0 &&
        live).localCheckpoint()
      def answer() = idx.bm25TopK(queries, "doc_id", "text", k = 5,
        excludeSelf = true)
      val before = answer().orderBy("query_id", "rank").collect().toSeq
      idx.purgeDeletes(s)
      require(idx.tombstoneCount(s) == 0L, "purge must drain tombstones")
      require(before == answer().orderBy("query_id", "rank").collect()
        .toSeq, "served answer must be bit-identical across the purge")
      answer()
    },
      // q252: interleaved ingest+delete streams — the index must equal
      // one never containing the deleted docs (df/N/avgdl all shrink);
      // deleted = %7 docs of micro-batch slices 0..2 (slice 3's %7 docs
      // had no later batch to carry their tombstones)
      bm25RetrievalSqlFor(
      "doc_id % 7 <> 0 OR doc_id % 4 = 3", "doc_id % 101 = 0"),
      streaming = true),
    Gate("q253_maxscore_bm25", (s, dir) => {
      // TOP-K PRUNED BM25 (MaxScore) — the classic serving
      // optimization the segment store makes possible: per-term
      // score upper bounds (idf · max tf-weight, derived from the
      // stored postings) let the document-at-a-time walk SKIP
      // scoring docs that cannot enter the top-k. Query = one rare
      // term ('dup', ~5% df) + two stopword-class terms ('the',
      // 'scan', ~78% df): the rare term's candidates fix θ, the
      // stopwords' summed bounds fall below it, and their postings
      // score ONLY for accumulated docs — require-pinned strictly
      // fewer postings scored than the unpruned path (the q248
      // rarest-first discipline generalized to ranked OR). The
      // pruning is answer-invisible BY CONSTRUCTION (candidates
      // re-rank through Retrieval.bm25Rank with full-slice df), so
      // the oracle is the plain exhaustive BM25 for the same terms.
      val base = s"/tmp/graft_q253_maxscore_${md5Hex(dir)}"
      resetScratch(s, base)
      val docs = tbl(s, dir, "documents").localCheckpoint()
      val idx = graft.operators.InvertedIndex(base)
      idx.init(s)
      (0 until 2).foreach { b =>
        idx.ingest(docs.where(pmod(col("doc_id"), lit(2L)) === b),
          "doc_id", "text", b.toLong)
      }
      val report = idx.bm25TopKPrunedReport(s,
        Seq("dup", "the", "scan"), k = 10)
      require(report.scoredPostings < report.totalPostings,
        s"MaxScore must score strictly fewer postings than the " +
          s"unpruned path: ${report.scoredPostings} of " +
          s"${report.totalPostings}")
      report.result
    },
      // q253: MaxScore pruning is answer-invisible — the oracle is the
      // plain exhaustive BM25 for the same fixed query terms
      maxscoreBm25Sql),
    Gate("q254_term_autocomplete", (s, dir) => {
      // TERM DICTIONARY / AUTOCOMPLETE — prefix search by document
      // frequency, the query shape a hash-bucketed postings store
      // cannot serve (a prefix is a RANGE of terms; hashing scatters
      // it over every bucket). The dictionary state co-locates terms
      // by FIRST CHARACTER (BucketedLog hash-keyed on the prefix
      // char), so the lookup reads ONE letter bucket (readFor
      // directory prune) with the exact startswith as residual;
      // (df, cf) counts fold additively per ingest batch and a
      // poisoned replay is a no-op by the #batch= watermark.
      // All-integer ranking (df desc, term). Oracle = the plain
      // LIKE 's%' term aggregation.
      val base = s"/tmp/graft_q254_dict_${md5Hex(dir)}"
      resetScratch(s, base)
      val docs = tbl(s, dir, "documents").localCheckpoint()
      val dict = graft.operators.TermDictionary(base)
      dict.init(s)
      (0 until 2).foreach { b =>
        dict.ingest(docs.where(pmod(col("doc_id"), lit(2L)) === b),
          "doc_id", "text", b.toLong)
      }
      // poisoned crash-replay of batch 1: doubled text would double
      // every count — a no-op by the #batch= watermark
      dict.ingest(docs.where(pmod(col("doc_id"), lit(2L)) === 1)
          .withColumn("text", concat(col("text"), lit(" "), col("text"))),
        "doc_id", "text", 1L)
      require(dict.coveredBatch(s) == 1L,
        s"dictionary must be fenced at batch 1: ${dict.coveredBatch(s)}")
      dict.prefixTopK(s, "s", k = 10)
    },
      // q254: prefix lookup from the letter-bucketed dictionary must
      // equal the plain LIKE aggregation — exact long counts
      autocompleteSql),
    Gate("q255_index_audit", (s, dir) => {
      // INDEX INTEGRITY AUDIT — the q229 divergence-localization
      // discipline applied to search state: re-derive postings from
      // a reference corpus, full-outer compare against the stored
      // LIVE postings per (term, doc), and report per-TERM counts of
      // missing / phantom / tf-drifted pairs, so a detected
      // divergence names exactly which terms to rebuild (touched
      // buckets only), never the whole index. The gate plants all
      // three divergence kinds deliberately: %7 docs are tombstone-
      // deleted from the INDEX (audit sees them missing — and via
      // the un-purged tombstone subtraction, exactly what queries
      // serve), %11 docs are dropped from the AUDIT corpus (their
      // stored postings become phantom), %13≡1 docs get doubled
      // text in the audit corpus (every shared pair tf-drifts).
      // Oracle = the same per-term arithmetic over the tokenized
      // corpus — exact longs, no floats anywhere.
      val base = s"/tmp/graft_q255_audit_${md5Hex(dir)}"
      resetScratch(s, base)
      val docs = tbl(s, dir, "documents").localCheckpoint()
      val idx = graft.operators.InvertedIndex(base)
      idx.init(s)
      (0 until 2).foreach { b =>
        idx.ingest(docs.where(pmod(col("doc_id"), lit(2L)) === b),
          "doc_id", "text", b.toLong)
      }
      idx.deleteDocsDeferred(docs.where(pmod(col("doc_id"), lit(7L)) === 0),
        "doc_id", "text", 0L)
      val auditCorpus = docs.where(pmod(col("doc_id"), lit(11L)) =!= 0)
        .withColumn("text", when(pmod(col("doc_id"), lit(13L)) === 1,
          concat(col("text"), lit(" "), col("text")))
          .otherwise(col("text")))
      idx.audit(auditCorpus, "doc_id", "text")
    },
      // q255: the audit's three divergence kinds re-derived from the
      // corpus arithmetic — missing = %7-deleted (still in the audit
      // corpus), phantom = %11-dropped (still in the store), drift =
      // %13≡1 doubled text on pairs present in both
      s"""WITH toks AS ($toksCte),
         |pairs AS (SELECT doc_id, unnest(t) AS term FROM toks),
         |ptf AS (SELECT doc_id, term, count(*) AS tf
         |  FROM pairs GROUP BY doc_id, term),
         |agg AS (SELECT term,
         |    CAST(sum(CASE WHEN doc_id % 7 = 0 AND doc_id % 11 <> 0
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
         |    CAST(sum(CASE WHEN doc_id % 11 = 0 AND doc_id % 7 <> 0
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_phantom,
         |    CAST(sum(CASE WHEN doc_id % 13 = 1 AND doc_id % 7 <> 0
         |      AND doc_id % 11 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_drift
         |  FROM ptf GROUP BY term)
         |SELECT term, n_missing, n_phantom, n_drift FROM agg
         |WHERE n_missing + n_phantom + n_drift > 0""".stripMargin),
    Gate("q256_delete_by_id", (s, dir) => {
      // DELETE BY ID — the erasure-request shape: the deployment
      // holds doomed doc IDS, not their text, so the index must
      // supply everything a delete needs from its own state. The
      // FORWARD index (postings transposed, doc-keyed) makes that a
      // point lookup: ids' stored (dl) drive the exact (n, sumdl)
      // decrement, never-ingested ids are naturally absent and
      // SKIPPED (the gate passes phantom ids to prove it), an
      // already-tombstoned id is anti-joined out (the cross-batch
      // repeat is require-pinned stats-neutral via a second delete
      // call), and a poisoned same-batch replay is screened. The
      // purge drops postings AND forward rows together (else a
      // purged doc would be re-found and double-decremented), with
      // the served answer require-pinned bit-identical across it.
      // Oracle = q100's SQL over the reduced (%6 removed) corpus.
      val base = s"/tmp/graft_q256_delbyid_${md5Hex(dir)}"
      resetScratch(s, base)
      val docs = tbl(s, dir, "documents").localCheckpoint()
      val idx = graft.operators.InvertedIndex(base, withForward = true)
      idx.init(s)
      (0 until 2).foreach { b =>
        idx.ingest(docs.where(pmod(col("doc_id"), lit(2L)) === b),
          "doc_id", "text", b.toLong)
      }
      // doomed ids + phantom ids the corpus never contained — the
      // delete must skip phantoms without skewing (n, sumdl).
      // Phantoms sit strictly ABOVE max(doc_id) (an absolute offset
      // would collide with real docs at a larger scale factor and
      // silently tombstone live ones); deterministic pick via orderBy
      val doomed = docs.where(pmod(col("doc_id"), lit(6L)) === 0)
        .select("doc_id")
      val maxId = docs.agg(max("doc_id")).head().getLong(0)
      val withPhantoms = doomed.unionByName(
        docs.select((col("doc_id") + lit(maxId + 1L)).as("doc_id"))
          .orderBy("doc_id").limit(5))
      idx.deleteByIds(withPhantoms, "doc_id", 0L)
      // same-batch replay: screened by the #batch= watermark
      idx.deleteByIds(withPhantoms, "doc_id", 0L)
      // cross-batch repeat: already-tombstoned ids are anti-joined
      // out — stats-neutral by construction
      idx.deleteByIds(doomed, "doc_id", 1L)
      val queries = docs.where(pmod(col("doc_id"), lit(101L)) === 0 &&
        pmod(col("doc_id"), lit(6L)) =!= 0).localCheckpoint()
      def answer() = idx.bm25TopK(queries, "doc_id", "text", k = 5,
        excludeSelf = true)
      val before = answer().orderBy("query_id", "rank").collect().toSeq
      idx.purgeDeletes(s)
      require(idx.tombstoneCount(s) == 0L, "purge must drain tombstones")
      require(before == answer().orderBy("query_id", "rank").collect()
        .toSeq, "served answer must be bit-identical across the purge")
      // post-purge: a repeat delete of purged ids finds no forward
      // rows — nothing re-tombstoned, stats untouched
      idx.deleteByIds(doomed, "doc_id", 2L)
      require(idx.tombstoneCount(s) == 0L,
        "purged ids must not re-tombstone (forward rows are gone)")
      require(before == answer().orderBy("query_id", "rank").collect()
        .toSeq, "a post-purge repeat delete must be answer-neutral")
      answer()
    },
      // q256: delete-by-id must equal an index never containing the %6
      // docs — same reduced-corpus discipline as q247/q250
      bm25RetrievalSqlFor("doc_id % 6 <> 0",
      "doc_id % 101 = 0")),
    Gate("q257_more_like_this", (s, dir) => {
      // MORE-LIKE-THIS FROM THE STORE — doc-as-query BM25 where the
      // query doc's term vector comes from the FORWARD index (a
      // doc-id point lookup on the postings transposed, q256's
      // state), never from re-tokenizing text: the full query path
      // is store-only — forward slice for the query terms, postings
      // slice for the candidates, stats row for N/avgdl. Scoring is
      // Retrieval.bm25Rank verbatim, so the oracle is q100's SQL
      // with doc 101 as the one query.
      val base = s"/tmp/graft_q257_mlt_${md5Hex(dir)}"
      resetScratch(s, base)
      val docs = tbl(s, dir, "documents").localCheckpoint()
      val idx = graft.operators.InvertedIndex(base, withForward = true)
      idx.init(s)
      (0 until 2).foreach { b =>
        idx.ingest(docs.where(pmod(col("doc_id"), lit(2L)) === b),
          "doc_id", "text", b.toLong)
      }
      idx.moreLikeThis(s, docId = 101L, k = 5)
    },
      // q257: more-like-this from the stored forward vector == the
      // from-scratch BM25 with doc 101 as the one (self-excluded) query
      bm25RetrievalSqlFor("TRUE", "doc_id = 101")),
    Gate("q258_audit_repair", (s, dir) => {
      // AUDIT → TARGETED REPAIR, the closed integrity loop: plant
      // all three kinds of postings rot by raw state surgery (term
      // 'scan' rows DROPPED, term 'order' tf DOUBLED in place, five
      // phantom fake-doc rows added under term 'big' — stats
      // untouched, exactly what bit rot / a bad maintenance rewrite
      // looks like), let the audit localize the damage per term
      // (require-pinned: exactly those three terms, with the planted
      // shape), then repairTerms rebuilds ONLY those terms' postings
      // from the corpus (touched buckets, never a whole-index
      // rebuild) and the re-audit is require-pinned EMPTY. The
      // served BM25 afterwards must equal the pristine from-scratch
      // answer — q100's SQL is the oracle verbatim.
      val base = s"/tmp/graft_q258_repair_${md5Hex(dir)}"
      resetScratch(s, base)
      val docs = tbl(s, dir, "documents").localCheckpoint()
      val idx = graft.operators.InvertedIndex(base)
      idx.init(s)
      (0 until 2).foreach { b =>
        idx.ingest(docs.where(pmod(col("doc_id"), lit(2L)) === b),
          "doc_id", "text", b.toLong)
      }
      // raw surgery on the postings state (same path a buggy
      // maintenance pass would take)
      import s.implicits._
      val rot = graft.streaming.BucketedLog(s"$base/post",
        Seq("term"), 64)
      // phantom ids sit strictly above max(doc_id) so they stay
      // phantom at any scale factor
      val maxId = docs.agg(max("doc_id")).head().getLong(0)
      val phantoms = (1 to 5).map(i =>
          ("big", maxId + i, 5.0, 1L, Seq(0)))
        .toDF("term", "cand_id", "dl", "tf", "positions")
      rot.rewriteBuckets(Seq("scan", "order", "big").toDF("term")) {
        (cur, _) =>
          cur.get.where(col("term") =!= "scan")
            .withColumn("tf", when(col("term") === "order",
              col("tf") * 2L).otherwise(col("tf")))
            .unionByName(phantoms)
      }
      val a1 = idx.audit(docs, "doc_id", "text").collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      require(a1.keySet == Set("scan", "order", "big"),
        s"audit must localize exactly the three rotted terms: " +
          s"${a1.keySet}")
      require(a1("scan")._1 > 0 && a1("scan")._2 == 0 &&
        a1("scan")._3 == 0, s"scan must read as missing: ${a1("scan")}")
      require(a1("order")._3 > 0 && a1("order")._1 == 0 &&
        a1("order")._2 == 0, s"order must read as drift: ${a1("order")}")
      require(a1("big") == ((0L, 5L, 0L)),
        s"big must carry exactly the 5 phantoms: ${a1("big")}")
      // the audit is already collected: feed ITS term set to the
      // repair — a second full O(index + corpus-tokenize) audit pass
      // just to re-derive the same bounded set would be pure waste
      idx.repairTerms(docs, "doc_id", "text",
        a1.keySet.toSeq.toDF("term"))
      require(idx.audit(docs, "doc_id", "text").count() == 0L,
        "the re-audit after a targeted repair must be EMPTY")
      idx.bm25TopK(docs.where(pmod(col("doc_id"), lit(101L)) === 0),
        "doc_id", "text", k = 5, excludeSelf = true)
    },
      // q258: after audit-localized rot and a targeted repair, the
      // served index must be indistinguishable from pristine
      bm25RetrievalSql),
    Gate("q259_stream_autocomplete", (s, dir) => {
      // STREAMING CO-MAINTAINED DICTIONARY — q241's co-maintenance
      // discipline applied to the autocomplete state: each
      // micro-batch folds its term (df, cf) deltas into the
      // letter-bucketed dictionary (touched first-letter buckets
      // only), replay-screened by #batch=. After the drain the gate
      // fences coveredBatch at the last arrival, replays a poisoned
      // batch (doubled text would double every count — a no-op by
      // the watermark), and serves the prefix lookup FROM THE STORE:
      // one letter bucket read, exact startswith residual,
      // all-integer ranking. Oracle = q254's LIKE aggregation
      // verbatim — a dictionary kept live against the firehose must
      // be indistinguishable from one built one-shot.
      val base = s"/tmp/graft_q259_sdict_${md5Hex(dir)}"
      resetScratch(s, base)
      val in = s"$base/in"; val ckpt = s"$base/ckpt"
      val docs = tbl(s, dir, "documents")
        .select("doc_id", "text").localCheckpoint()
      (0 until 4).foreach { k =>
        docs.where(pmod(col("doc_id"), lit(4L)) === k)
          .appendBatchTo(in, k)
      }
      val dict = graft.operators.TermDictionary(s"$base/dict")
      dict.init(s)
      val q = graft.streaming.IngestPipeline.fileSource(
          s, s.read.parquet(in).schema, in, maxFilesPerTrigger = 1)
        .writeStream
        .foreachBatch { (b: DataFrame, bid: Long) =>
          dict.ingest(b, "doc_id", "text", bid)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
      require(dict.coveredBatch(s) == 3L,
        s"dictionary coverage must reach the last arrival: " +
          s"${dict.coveredBatch(s)}")
      // poisoned crash-replay of the last batch: screened
      dict.ingest(docs.where(pmod(col("doc_id"), lit(4L)) === 3)
          .withColumn("text", concat(col("text"), lit(" "), col("text"))),
        "doc_id", "text", 3L)
      dict.prefixTopK(s, "s", k = 10)
    },
      // q259: the streaming-maintained dictionary must be
      // indistinguishable from the one-shot build — q254's oracle
      // verbatim
      autocompleteSql,
      streaming = true),
    Gate("q260_dict_co_deletes", (s, dir) => {
      // DELETE-AWARE DICTIONARY, STREAMING CO-MAINTAINED — the
      // composition hole q259 left open: once q252-class deletes
      // flow on the corpus, an ingest-only dictionary silently
      // serves the UN-deleted (df, cf) forever. ONE foreachBatch
      // drain carries BOTH streams against the dictionary: each
      // micro-batch folds its new docs' term counts (#batch=-
      // screened) AND deletes the previous slice's %7 docs — a
      // doc-id CLAIM commit (existing claims win; cross-batch
      // repeats and racing writers decrement once) followed by the
      // claim-derived negative (df, cf) fold under the delete
      // writer's own watermark. Fences are per-stream; poisoned
      // replays of BOTH streams are no-ops by their own marks; the
      // amortized purgeClaims drains covered claims with the served
      // lookup require-pinned identical. Oracle = q254's LIKE
      // aggregation over (ingested − deleted) verbatim — a live
      // dictionary must be indistinguishable from one built one-shot
      // on the reduced corpus.
      val base = s"/tmp/graft_q260_dictdel_${md5Hex(dir)}"
      resetScratch(s, base)
      val in = s"$base/in"; val ckpt = s"$base/ckpt"
      val docs = tbl(s, dir, "documents")
        .select("doc_id", "text").localCheckpoint()
      (0 until 4).foreach { k =>
        val ins = docs.where(pmod(col("doc_id"), lit(4L)) === k)
          .withColumn("op", lit("ins"))
        val del =
          if (k == 0) ins.limit(0)
          else docs.where(pmod(col("doc_id"), lit(4L)) === (k - 1) &&
              pmod(col("doc_id"), lit(7L)) === 0)
            .withColumn("op", lit("del"))
        ins.unionByName(del).appendBatchTo(in, k)
      }
      val dict = graft.operators.TermDictionary(s"$base/dict")
      dict.init(s)
      val q = graft.streaming.IngestPipeline.fileSource(
          s, s.read.parquet(in).schema, in, maxFilesPerTrigger = 1)
        .writeStream
        .foreachBatch { (b: DataFrame, bid: Long) =>
          dict.ingest(b.where(col("op") === "ins"), "doc_id", "text", bid)
          dict.delete(b.where(col("op") === "del"), "doc_id", "text", bid)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
      require(dict.coveredBatch(s) == 3L && dict.coveredDeletes(s) == 3L,
        s"both streams must be fenced at the last micro-batch: " +
          s"ingest=${dict.coveredBatch(s)} " +
          s"deletes=${dict.coveredDeletes(s)}")
      require(dict.claimCount(s) > 0L, "delete claims must be pending")
      // poisoned crash-replays of BOTH streams: doubled text would
      // double every count — no-ops by each stream's own mark
      dict.ingest(docs.where(pmod(col("doc_id"), lit(4L)) === 2)
          .withColumn("text", concat(col("text"), lit(" "), col("text"))),
        "doc_id", "text", 2L)
      dict.delete(docs.where(pmod(col("doc_id"), lit(4L)) === 1 &&
            pmod(col("doc_id"), lit(7L)) === 0)
          .withColumn("text", concat(col("text"), lit(" "), col("text"))),
        "doc_id", "text", 2L)
      def answer() = dict.prefixTopK(s, "s", k = 10)
      val before = answer().orderBy("rank").collect().toSeq
      dict.purgeClaims(s)
      require(dict.claimCount(s) == 0L,
        "purgeClaims must drain the covered claims")
      require(before == answer().orderBy("rank").collect().toSeq,
        "served lookup must be identical across the claim drain")
      answer()
    },
      // q260: the dictionary served (ingested − deleted) — slices 0..3
      // all ingested, %7 docs of slices 0..2 deleted (q252's pattern)
      autocompleteSqlFor(
      "doc_id % 7 <> 0 OR doc_id % 4 = 3"),
      streaming = true),
    Gate("q261_named_delete_streams", (s, dir) => {
      // NAMED DELETE STREAMS — two INDEPENDENT delete feeds (GDPR
      // erasure %5, TTL expiry %9) race on ONE index from real
      // threads, each with its own batch-id sequence and
      // #txn.<writer>= watermark in both delete states: a single
      // hardwired writer id would collide the two feeds on one
      // scalar mark and silently swallow the trailing stream's lower
      // batch ids (the q238 failure class, delete-side). The %45
      // overlap is the sharp edge: both streams doom those docs, and
      // the tombstone CLAIM fold (existing claims win, re-evaluated
      // on every rebase) makes exactly one stream own each doc's
      // (n, sumdl) decrement. Poisoned crash-replays per stream are
      // no-ops by each writer's own marks; the purge then drops the
      // doomed postings with the served answer require-pinned
      // bit-identical. Oracle = q100's SQL over the doubly-reduced
      // corpus — double decrement or a lost batch would skew
      // N/avgdl and flip it.
      val base = s"/tmp/graft_q261_namedel_${md5Hex(dir)}"
      resetScratch(s, base)
      val docs = tbl(s, dir, "documents").localCheckpoint()
      val idx = graft.operators.InvertedIndex(base)
      idx.init(s)
      (0 until 2).foreach { b =>
        idx.ingest(docs.where(pmod(col("doc_id"), lit(2L)) === b),
          "doc_id", "text", b.toLong)
      }
      val failures = java.util.Collections.synchronizedList(
        new java.util.ArrayList[Throwable]())
      val start = new java.util.concurrent.CountDownLatch(1)
      val threads = Seq(("gdpr", 5L), ("ttl", 9L)).map { case (w, m) =>
        new Thread(() => {
          start.await()
          try {
            idx.deleteDocsDeferred(
              docs.where(pmod(col("doc_id"), lit(m)) === 0),
              "doc_id", "text", 0L, w)
            // poisoned crash-replay of THIS stream's batch: doubled
            // text would double the decrement — screened by ITS mark
            idx.deleteDocsDeferred(
              docs.where(pmod(col("doc_id"), lit(m)) === 0)
                .withColumn("text",
                  concat(col("text"), lit(" "), col("text"))),
              "doc_id", "text", 0L, w)
          } catch { case e: Throwable => failures.add(e) }
        })
      }
      threads.foreach(_.start()); start.countDown()
      threads.foreach(_.join())
      import scala.jdk.CollectionConverters._
      require(failures.asScala.isEmpty,
        s"both delete streams must land via retry: " +
          s"${failures.asScala.toList}")
      require(idx.coveredDeletes(s, "gdpr") == 0L &&
        idx.coveredDeletes(s, "ttl") == 0L,
        "each delete stream must be fenced by its own watermark")
      val queries = docs.where(pmod(col("doc_id"), lit(101L)) === 0 &&
        pmod(col("doc_id"), lit(5L)) =!= 0 &&
        pmod(col("doc_id"), lit(9L)) =!= 0).localCheckpoint()
      def answer() = idx.bm25TopK(queries, "doc_id", "text", k = 5,
        excludeSelf = true)
      val before = answer().orderBy("query_id", "rank").collect().toSeq
      idx.purgeDeletes(s)
      require(idx.tombstoneCount(s) == 0L, "purge must drain tombstones")
      require(before == answer().orderBy("query_id", "rank").collect()
        .toSeq, "served answer must be bit-identical across the purge")
      answer()
    },
      // q261: the doubly-reduced corpus after two named delete streams
      // (GDPR %5 + TTL %9, overlap %45 decremented once)
      bm25RetrievalSqlFor(
      "doc_id % 5 <> 0 AND doc_id % 9 <> 0", "doc_id % 101 = 0")),
    Gate("q262_fwd_audit_repair", (s, dir) => {
      // FORWARD-STATE AUDIT → REPAIR → OPTIMIZE — closing the
      // maintenance loop q255/q258 built for postings over the
      // doc-keyed state they left out: forward rot (a drifted stored
      // dl) is INVISIBLE to the postings audit yet silently skews
      // every deleteByIds (n, sumdl) decrement and moreLikeThis
      // score. The gate plants all three rot kinds by raw state
      // surgery (%17 docs' forward rows DROPPED, surviving %13≡1
      // docs' stored dl DOUBLED in place, five phantom doc rows
      // above max(doc_id)); the postings audit is require-pinned
      // still CLEAN (the rot is forward-only), auditForward
      // localizes exactly the planted docs per kind, and
      // repairDocsForward rebuilds ONLY those docs' buckets with the
      // re-audit require-pinned EMPTY. optimizeSegments then
      // collapses BOTH states to one dir/bucket (require-pinned —
      // the forward state is maintenance-covered, not just the
      // postings), and a deleteByIds afterwards decrements by the
      // REPAIRED dl — oracle = q100's SQL over the %10-reduced
      // corpus, which only matches if every stored dl is corpus-true
      // again.
      val base = s"/tmp/graft_q262_fwdrepair_${md5Hex(dir)}"
      resetScratch(s, base)
      val docs = tbl(s, dir, "documents").localCheckpoint()
      val idx = graft.operators.InvertedIndex(base, withForward = true)
      idx.init(s)
      (0 until 4).foreach { b =>
        idx.ingest(docs.where(pmod(col("doc_id"), lit(4L)) === b),
          "doc_id", "text", b.toLong)
      }
      // segments accumulated on BOTH states (the optimize pin's
      // precondition — taken before any touched-bucket rewrite
      // collapses lists)
      require(idx.postingsSegmentCounts(s).values.max > 1 &&
        idx.fwdSegmentCounts(s).values.max > 1,
        "corpus shape: segments must have accumulated on both states")
      import s.implicits._
      val maxId = docs.agg(max("doc_id")).head().getLong(0)
      val rot = graft.streaming.BucketedLog(s"$base/fwd",
        Seq("cand_id"), 32)
      val phantoms = (1 to 5).map(i => (maxId + i, "ghost", 3.0, 1L))
        .toDF("cand_id", "term", "dl", "tf")
      val touched = docs.where(pmod(col("doc_id"), lit(17L)) === 0 ||
          pmod(col("doc_id"), lit(13L)) === 1)
        .select(col("doc_id").as("cand_id"))
        .unionByName(phantoms.select("cand_id"))
      rot.rewriteBuckets(touched) { (cur, _) =>
        cur.get.where(pmod(col("cand_id"), lit(17L)) =!= 0)
          .withColumn("dl", when(pmod(col("cand_id"), lit(13L)) === 1,
            col("dl") * 2.0).otherwise(col("dl")))
          .unionByName(phantoms)
      }
      require(idx.audit(docs, "doc_id", "text").count() == 0L,
        "the postings audit must stay clean — the rot is forward-only")
      val a1 = idx.auditForward(docs, "doc_id", "text").collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val missingExp = docs.where(pmod(col("doc_id"), lit(17L)) === 0)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val driftExp = docs.where(pmod(col("doc_id"), lit(13L)) === 1 &&
          pmod(col("doc_id"), lit(17L)) =!= 0)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val phantomExp = (1 to 5).map(maxId + _).toSet
      require(a1.keySet == missingExp ++ driftExp ++ phantomExp,
        s"forward audit must localize exactly the planted docs: " +
          s"${a1.keySet.size} vs ${(missingExp ++ driftExp ++
            phantomExp).size}")
      require(missingExp.forall(d => a1(d)._1 > 0 && a1(d)._2 == 0 &&
        a1(d)._3 == 0), "dropped docs must read as missing")
      require(driftExp.forall(d => a1(d)._3 > 0 && a1(d)._1 == 0 &&
        a1(d)._2 == 0), "dl-doubled docs must read as drift")
      require(phantomExp.forall(d => a1(d) == ((0L, 1L, 0L))),
        "planted phantom rows must read as phantom")
      idx.repairDocsForward(docs, "doc_id", "text",
        a1.keySet.toSeq.toDF("cand_id"))
      require(idx.auditForward(docs, "doc_id", "text").count() == 0L,
        "the re-audit after a targeted forward repair must be EMPTY")
      idx.optimizeSegments(s)
      require(idx.postingsSegmentCounts(s).values.forall(_ == 1) &&
        idx.fwdSegmentCounts(s).values.forall(_ == 1),
        "post-OPTIMIZE reads must touch one dir/bucket on BOTH states")
      // the repaired dl is exactly what deleteByIds decrements by
      idx.deleteByIds(docs.where(pmod(col("doc_id"), lit(10L)) === 0)
        .select("doc_id"), "doc_id", 0L)
      val queries = docs.where(pmod(col("doc_id"), lit(101L)) === 0 &&
        pmod(col("doc_id"), lit(10L)) =!= 0).localCheckpoint()
      idx.bm25TopK(queries, "doc_id", "text", k = 5, excludeSelf = true)
    },
      // q262: after forward rot, targeted repair and OPTIMIZE, the
      // deleteByIds decrement must be corpus-true again — the index
      // equals one never containing the %10 docs
      bm25RetrievalSqlFor("doc_id % 10 <> 0",
      "doc_id % 101 = 0")),
    Gate("q263_maxscore_batch", (s, dir) => {
      // BATCHED MaxScore — q253's pruned walk promoted to the
      // serving shape q240 has: the WHOLE %101 query frame through
      // one pruned evaluation, per-query bounds / walk order /
      // suffix sums / θ all in-plan (windows), the driver looping
      // over WALK DEPTHS only. A query whose remaining bound-sum
      // falls below its θ flips non-essential and STAYS so (partials
      // only grow, suffixes only shrink), so its whole stopword tail
      // folds in one aggregated join scoring only accumulated docs —
      // require-pinned strictly fewer postings scored than the
      // unpruned path across the batch. The accumulated partials are
      // exact scores (monotone non-essential-ness ⇒ every candidate
      // entered during its full-outer essential prefix), so the
      // rounded ranking equals q240's — its oracle (q100's SQL)
      // verbatim.
      val base = s"/tmp/graft_q263_msbatch_${md5Hex(dir)}"
      resetScratch(s, base)
      val docs = tbl(s, dir, "documents").localCheckpoint()
      val idx = graft.operators.InvertedIndex(base)
      idx.init(s)
      (0 until 2).foreach { b =>
        idx.ingest(docs.where(pmod(col("doc_id"), lit(2L)) === b),
          "doc_id", "text", b.toLong)
      }
      val queries = docs.where(pmod(col("doc_id"), lit(101L)) === 0)
        .localCheckpoint()
      val report = idx.bm25TopKPrunedBatchReport(queries, "doc_id",
        "text", k = 5, excludeSelf = true)
      require(report.scoredPostings < report.totalPostings,
        s"the batch walk must score strictly fewer postings than " +
          s"the unpruned path: ${report.scoredPostings} of " +
          s"${report.totalPostings}")
      report.result
    },
      // q263: batched MaxScore is answer-invisible — q240's oracle
      // (the plain exhaustive BM25 for the %101 query set) verbatim
      bm25RetrievalSql)
  )

  /** q233's oracle: snap 0 = the one-shot merge over the even-id
    * change prefix in the PRE-evolution shape (c_status never
    * observed — NULL), snap 1 = the one-shot merge over ALL changes
    * in the union schema where only odd-id changes carry c_status
    * (they arrived after the evolution; a key whose winning change is
    * even-id keeps c_status NULL even in the final snapshot). */
  private def schemaEvolutionSql: String =
    """WITH ch AS (SELECT
      |    CASE WHEN o_custkey % 13 = 0 THEN o_custkey + 1000000
      |         ELSE o_custkey END AS c_custkey,
      |    CASE WHEN o_custkey % 11 = 0 THEN 'D' ELSE 'U' END AS op,
      |    o_orderpriority AS c_mktsegment, o_totalprice AS c_acctbal,
      |    CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END AS c_status,
      |    o_orderdate AS ts, o_orderkey AS id
      |  FROM orders),
      |l0 AS (SELECT c_custkey, op, c_mktsegment, c_acctbal FROM (
      |  SELECT *, row_number() OVER (PARTITION BY c_custkey
      |    ORDER BY ts DESC, id DESC) AS rn FROM ch WHERE id % 2 = 0)
      |  WHERE rn = 1),
      |m0 AS (SELECT coalesce(b.c_custkey, l.c_custkey) AS c_custkey,
      |    CASE WHEN l.c_custkey IS NOT NULL THEN l.c_mktsegment
      |         ELSE b.c_mktsegment END AS c_mktsegment,
      |    CASE WHEN l.c_custkey IS NOT NULL THEN l.c_acctbal
      |         ELSE b.c_acctbal END AS c_acctbal,
      |    l.op AS op
      |  FROM customer b FULL JOIN l0 l ON b.c_custkey = l.c_custkey),
      |l1 AS (SELECT c_custkey, op, c_mktsegment, c_acctbal, c_status
      |  FROM (SELECT *, row_number() OVER (PARTITION BY c_custkey
      |    ORDER BY ts DESC, id DESC) AS rn FROM ch) WHERE rn = 1),
      |m1 AS (SELECT coalesce(b.c_custkey, l.c_custkey) AS c_custkey,
      |    CASE WHEN l.c_custkey IS NOT NULL THEN l.c_mktsegment
      |         ELSE b.c_mktsegment END AS c_mktsegment,
      |    CASE WHEN l.c_custkey IS NOT NULL THEN l.c_acctbal
      |         ELSE b.c_acctbal END AS c_acctbal,
      |    CASE WHEN l.c_custkey IS NOT NULL THEN l.c_status END AS c_status,
      |    l.op AS op
      |  FROM customer b FULL JOIN l1 l ON b.c_custkey = l.c_custkey)
      |SELECT 0::BIGINT AS snap, c_custkey, c_mktsegment, c_acctbal,
      |  NULL AS c_status
      |FROM m0 WHERE op IS NULL OR op <> 'D'
      |UNION ALL
      |SELECT 1::BIGINT AS snap, c_custkey, c_mktsegment, c_acctbal, c_status
      |FROM m1 WHERE op IS NULL OR op <> 'D'""".stripMargin

  /** q234's oracle: the post-DELETE table filters, plain — the
    * re-tightened indexes buy IO skipping, never answers (q192's
    * contract). `w`/`cut` re-derive the gate's unit math from the
    * data (max orderkey // 8 + 1), so the SQL holds at every sf. */
  private def optimizeRetightenSql: String =
    """WITH mw AS (SELECT max(o_orderkey) // 8 + 1 AS w FROM orders),
      |alive AS (SELECT o_orderkey, o_custkey, o_totalprice
      |  FROM orders, mw
      |  WHERE NOT ((o_orderkey // w) IN (2, 3)
      |    AND (o_orderkey % w) < (2 * w // 5)))
      |SELECT o_orderkey, o_custkey, o_totalprice, 'range' AS src
      |FROM alive, mw
      |WHERE o_orderkey >= 2 * w + (2 * w // 5)
      |  AND o_orderkey <= 2 * w + (2 * w // 5) + w // 5
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_totalprice, 'point' AS src
      |FROM alive WHERE o_orderkey % 97 = 0""".stripMargin

  /** q189's oracle: each retained version IS the one-shot merge over
    * its change prefix — v0 the untouched base, v1 the even-id half,
    * v2 everything (q177's merge). */
  private def timeTravelSql: String =
    s"""SELECT 0::BIGINT AS ver, c_custkey, c_mktsegment, c_acctbal
       |FROM customer
       |UNION ALL
       |SELECT 1::BIGINT AS ver, m1.*
       |FROM (${mergeIntoSqlWhere("o_orderkey % 2 = 0")}) m1
       |UNION ALL
       |SELECT 2::BIGINT AS ver, m2.*
       |FROM (${mergeIntoSqlWhere("TRUE")}) m2""".stripMargin

  /** q192's oracle: the plain filter — the Bloom index only decides
    * which FILES are read; the residual semi join makes the answer
    * independent of false positives. */
  private def bloomIndexSql: String =
    """WITH p AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 7 = 3
      |  ORDER BY o_orderkey LIMIT 5)
      |SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
      |FROM orders o JOIN p USING (o_orderkey)""".stripMargin

  /** q197's oracle: full-outer verdict join of the two one-shot
    * merge prefixes — balance compared as exact integer cents (no
    * double-to-string formatting crosses engines). */
  private def changelogSql: String =
    s"""WITH v1 AS MATERIALIZED (${mergeIntoSqlWhere("o_orderkey % 2 = 0")}),
       |v2 AS MATERIALIZED (${mergeIntoSqlWhere("TRUE")}),
       |a AS (SELECT c_custkey AS id, c_mktsegment || '|' ||
       |    (round(c_acctbal * 100)::BIGINT)::VARCHAR AS c1 FROM v1),
       |b AS (SELECT c_custkey AS id, c_mktsegment || '|' ||
       |    (round(c_acctbal * 100)::BIGINT)::VARCHAR AS c2 FROM v2)
       |SELECT coalesce(a.id, b.id) AS c_custkey,
       |  CASE WHEN a.id IS NULL THEN 'added'
       |       WHEN b.id IS NULL THEN 'removed'
       |       WHEN c1 <> c2 THEN 'changed'
       |       ELSE 'unchanged' END AS status
       |FROM a FULL JOIN b ON a.id = b.id""".stripMargin

  /** q194's oracle: the same checksum aggregate over the ORIGINAL
    * parquet — equality proves the JSONL export/import byte-lossless.
    * Byte counts (strlen ↔ octet_length), never char counts
    * (grapheme semantics differ across engines). */
  private def jsonlSql: String =
    """SELECT lang, count(*)::BIGINT AS n_docs,
      |  sum(doc_id)::BIGINT AS sum_ids,
      |  sum(strlen(text))::BIGINT AS sum_bytes,
      |  sum(('0x' || substr(md5(text), 1, 13))::BIGINT)::BIGINT
      |    AS sum_text_hash
      |FROM documents GROUP BY lang""".stripMargin

  /** q221's AND q242's oracle: docs containing BOTH query terms
    * ranked by minimum token-position distance (counts/dist exact
    * ints; proximity one IEEE division). q242 answers it from the
    * stored positional postings. */
  private def proximitySql: String =
    s"""WITH toks AS ($toksCte),
       |p AS (SELECT doc_id, t[i] AS w, i AS pos
       |  FROM toks, unnest(generate_series(1, len(t))) AS g(i)),
       |a AS (SELECT doc_id, pos AS pa FROM p WHERE w = 'order'),
       |b AS (SELECT doc_id, pos AS pb FROM p WHERE w = 'table'),
       |m AS (SELECT doc_id, min(abs(pa - pb))::BIGINT AS min_dist,
       |    count(DISTINCT pa)::BIGINT AS n_a,
       |    count(DISTINCT pb)::BIGINT AS n_b
       |  FROM a JOIN b USING (doc_id) GROUP BY 1)
       |SELECT doc_id, min_dist, n_a, n_b,
       |  1.0::DOUBLE / (1.0::DOUBLE + min_dist::DOUBLE) AS proximity,
       |  rank
       |FROM (SELECT *, row_number() OVER (ORDER BY min_dist, doc_id)
       |    AS rank FROM m)
       |WHERE rank <= 20""".stripMargin

  /** q100's AND q240's oracle: the full inverted-index BM25
    * derivation — postings + df + corpus stats from ONE tokenize,
    * Lucene-variant idf, identical round(·,6) on the per-(query,cand)
    * sum (rule 9), (score desc, cand_id) rank with rank <= 5; %101
    * docs as queries, self excluded. q240 answers it from the
    * incrementally-maintained stored index, which must be
    * bit-identical to this from-scratch form. */
  private def bm25RetrievalSql: String =
    bm25RetrievalSqlFor("TRUE", "doc_id % 101 = 0")

  /** [[bm25RetrievalSql]] with corpus/query filters — q247 grades the
    * post-delete index against the REDUCED corpus (df/N/avgdl all
    * shrink, bit-identical to an index never containing the docs). */
  private def bm25RetrievalSqlFor(corpusCond: String,
      queryCond: String): String =
    s"""WITH toks AS (SELECT * FROM ($toksCte) WHERE $corpusCond),
       |stats AS (SELECT count(*)::DOUBLE AS n,
       |    coalesce(sum(len(t)), 0)::DOUBLE AS sumdl FROM toks),
       |terms AS (SELECT doc_id AS cand_id, len(t)::DOUBLE AS dl,
       |    unnest(t) AS term FROM toks),
       |tfc AS (SELECT cand_id, term, dl, count(*) AS tf
       |  FROM terms GROUP BY cand_id, term, dl),
       |dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY term),
       |q AS (SELECT doc_id AS query_id, unnest(list_distinct(t)) AS term
       |  FROM toks WHERE $queryCond),
       |scored AS (SELECT query_id, cand_id,
       |    round(sum(ln(1.0 + (s.n - df + 0.5) / (df + 0.5))
       |      * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / (s.sumdl / s.n)))), 6) AS score
       |  FROM tfc JOIN dfc USING (term) JOIN q USING (term), stats s
       |  WHERE query_id <> cand_id
       |  GROUP BY query_id, cand_id)
       |SELECT query_id, cand_id, score, rank FROM (
       |  SELECT query_id, cand_id, score, row_number() OVER (
       |    PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank
       |  FROM scored) WHERE rank <= 5""".stripMargin

  /** q254/q259's oracle: the plain LIKE-prefix term aggregation —
    * exact long counts, (df desc, term) rank. */
  private def autocompleteSql: String = autocompleteSqlFor("TRUE")

  /** [[autocompleteSql]] over a filtered corpus — q260 grades the
    * delete-aware dictionary against (ingested − deleted). */
  private def autocompleteSqlFor(corpusCond: String): String =
    s"""WITH toks AS (SELECT * FROM ($toksCte) WHERE $corpusCond),
       |pairs AS (SELECT doc_id, unnest(t) AS term FROM toks),
       |ptf AS (SELECT doc_id, term, count(*) AS tf
       |  FROM pairs GROUP BY doc_id, term),
       |d AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
       |    CAST(sum(tf) AS BIGINT) AS cf
       |  FROM ptf WHERE term LIKE 's%' GROUP BY term)
       |SELECT term, df, cf, rank FROM (
       |  SELECT term, df, cf, row_number() OVER (
       |    ORDER BY df DESC, term) AS rank FROM d)
       |WHERE rank <= 10""".stripMargin

  /** q253's oracle: exhaustive single-query BM25 for the fixed term
    * set — MaxScore pruning must be answer-invisible, so the SQL
    * knows nothing about bounds or skipping. Same idf/tf-weight/
    * round(·,6)/(score desc, doc_id) contract as [[bm25RetrievalSql]],
    * one query, top 10. */
  private def maxscoreBm25Sql: String =
    s"""WITH toks AS ($toksCte),
       |stats AS (SELECT count(*)::DOUBLE AS n,
       |    coalesce(sum(len(t)), 0)::DOUBLE AS sumdl FROM toks),
       |terms AS (SELECT doc_id AS cand_id, len(t)::DOUBLE AS dl,
       |    unnest(t) AS term FROM toks),
       |tfc AS (SELECT cand_id, term, dl, count(*) AS tf
       |  FROM terms GROUP BY cand_id, term, dl),
       |dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY term),
       |q AS (SELECT unnest(['dup', 'the', 'scan']) AS term),
       |scored AS (SELECT cand_id AS doc_id,
       |    round(sum(ln(1.0 + (s.n - df + 0.5) / (df + 0.5))
       |      * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / (s.sumdl / s.n)))), 6) AS score
       |  FROM tfc JOIN dfc USING (term) JOIN q USING (term), stats s
       |  GROUP BY cand_id)
       |SELECT doc_id, score, rank FROM (
       |  SELECT doc_id, score, row_number() OVER (
       |    ORDER BY score DESC, doc_id) AS rank
       |  FROM scored) WHERE rank <= 10""".stripMargin
}
