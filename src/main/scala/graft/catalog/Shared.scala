package graft
package catalog

import java.sql.Timestamp
import java.time.Instant
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators._

/** Helpers used by two or more catalog families. */
private[graft] object Shared {

  def t(iso: String): Timestamp = Timestamp.from(Instant.parse(iso))

  def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Collision-resistant scratch-path suffix: full md5 hex of the
    * testdata dir (abs(hashCode) can stay negative at Int.MinValue
    * and two dirs colliding would race each other's
    * delete-and-rewrite). */
  def md5Hex(dir: String): String = graft.expressions.Md5Hash.hex(dir)

  /** Reset a gate's scratch directory: delete `path` recursively and
    * return its FileSystem. Callers keep their path strings verbatim —
    * the static oracle SQL globs the same paths. */
  def resetScratch(s: SparkSession, path: String)
      : org.apache.hadoop.fs.FileSystem = {
    val fs = org.apache.hadoop.fs.FileSystem
      .get(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    fs
  }

  /** The q187/q188 incremental view: per (supplier, ship-month)
    * count + exact LONG unit/cent sums, signed for retractions. ONE
    * definition so the batch and streaming gates maintain the
    * identical view. */
  def aggViewOf(path: String): graft.streaming.AggView =
    graft.streaming.AggView(path, Seq("l_suppkey", "ship_month"),
      Seq("sum_qty" -> round(col("l_quantity")).cast("long"),
        "rev_cents" -> round(col("l_extendedprice")
          * (lit(1.0) - col("l_discount")) * 100).cast("long")),
      signCol = Some("sig"), buckets = 16)

  /** The simhash near-dup PAIR SET feeds four catalog queries (q63
    * pairs, q96 clusters, q131 streaming CC, q137 graph shape) with
    * identical parameters — memoize the persisted result per
    * (session, dir) so one Verify/Bench process computes the
    * shingle→fingerprint→band pipeline once. `simhashNearDup64`
    * returns an eager MEMORY_AND_DISK-persisted frame (caller-owned);
    * the memo takes ownership and holds it for the process lifetime —
    * consumers must NOT unpersist it. */
  private val simhashPairsMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  def simhashPairs(s: SparkSession, dir: String): DataFrame =
    // Synchronized: concurrent callers racing get-then-put would each
    // run the expensive pipeline and leak the loser's persisted frame.
    simhashPairsMemo.synchronized {
      val key = (s, dir)
      val cur = simhashPairsMemo.get(key)
      // Bench clearCache()s between timed passes, which unpersists the
      // memoized frame; handing it out unpersisted would re-run the
      // whole pipeline once PER consumer inside a query — recompute and
      // re-persist instead (one run, honest per-pass timing).
      if (cur != null &&
          cur.storageLevel != org.apache.spark.storage.StorageLevel.NONE) cur
      else {
        val fresh = Dedup.simhashNearDup64(tbl(s, dir, "documents"),
          "doc_id", "text", maxHamming = 3)
        simhashPairsMemo.put(key, fresh)
        fresh
      }
    }

  /** Exact integer view of a fixed-decimal double column: value*10^d
    * rounded to the nearest long. The per-row double multiply and round
    * are bit-identical on Spark and DuckDB (same IEEE ops on the same
    * input), and the integer SUM is associativity-free — so any ratio
    * or average derived from it with a fixed op sequence is hash-stable
    * with NO rounding (hard rule 9's exact-arithmetic variant; rounding
    * a quotient instead can land exactly on a half-way point — q31 did). */
  def scaledLong(c: Column, digits: Int): Column =
    round(c * math.pow(10, digits), 0).cast("long")

  /** q216/q219's shared OLS fold over a `(user_id, day, y)` daily
    * table: exact integer moments (n, Σx, Σy, Σxx, Σxy as longs),
    * slope = ONE division of exact ints, intercept the identical
    * 3-op IEEE sequence both engines run — deterministic without a
    * rounding contract (the q201 discipline). */
  def olsFitFromDaily(daily: DataFrame): DataFrame = {
    val withX = daily.withColumn("x",
      datediff(col("day"), lit("2024-01-01").cast("date")).cast("long"))
    val m = withX.groupBy("user_id").agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"))
    m.where(m("n") * m("sxx") - m("sx") * m("sx") > 0)
      .withColumn("slope",
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
      .select(col("user_id"), col("n").cast("long").as("n_days"),
        col("slope"),
        ((col("sy").cast("double") - col("slope") * col("sx").cast("double"))
          / col("n").cast("double")).as("intercept"))
  }

  /** q96's (and q131's) oracle: components re-derived by recursive
    * min-reachability over the SAME pair SQL as q63 — reach
    * accumulates (node, reachable node) pairs to a fixpoint
    * (recursive UNION is distinct, so it terminates), cluster = min
    * reachable; singletons label themselves via the LEFT join. */
  def componentsSql: String =
    s"""WITH RECURSIVE pairs AS ($simhash64PairsSql),
       |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(n, m) AS (
       |  SELECT u, u FROM e
       |  UNION
       |  SELECT e.u, r.m FROM e JOIN reach r ON e.v = r.n),
       |comp AS (SELECT n, min(m) AS cluster_id FROM reach GROUP BY n),
       |lab AS (SELECT d.doc_id,
       |    coalesce(c.cluster_id, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.n),
       |sz AS (SELECT cluster_id, count(*) AS n FROM lab GROUP BY cluster_id)
       |SELECT l.doc_id, l.cluster_id, sz.n::BIGINT AS cluster_size,
       |  l.doc_id = l.cluster_id AS is_keeper
       |FROM lab l JOIN sz USING (cluster_id)""".stripMargin

  /** q168's (and q186's) oracle: the exact largest-remainder
    * apportionment + md5-deal prefix draw, both mixes. q186 replays
    * it through bounded streaming state — identical by the
    * k-smallest-of-union prefix argument, so the SAME SQL oracles
    * both. */
  def stratifiedSampleSql: String =
    """WITH d AS MATERIALIZED (SELECT doc_id AS id, lang AS stratum,
      |    md5(doc_id::VARCHAR) AS h FROM documents),
      |rk AS MATERIALIZED (SELECT id, stratum, row_number() OVER (
      |    PARTITION BY stratum ORDER BY h, id) AS rn FROM d),
      |cnt AS (SELECT stratum, count(*)::BIGINT AS n FROM d
      |  GROUP BY stratum),
      |quo AS MATERIALIZED (SELECT stratum, n,
      |    (200 * n) // sum(n) OVER () AS fl,
      |    (200 * n) % sum(n) OVER () AS rem FROM cnt),
      |alloc AS (SELECT stratum,
      |    fl + CASE WHEN row_number() OVER (ORDER BY rem DESC, stratum)
      |      <= 200 - sum(fl) OVER () THEN 1 ELSE 0 END AS quota
      |  FROM quo),
      |prop AS (SELECT r.id, r.stratum FROM rk r
      |  JOIN alloc a USING (stratum) WHERE r.rn <= a.quota),
      |bal AS (SELECT id, stratum FROM rk WHERE rn <= 25)
      |SELECT id AS doc_id, stratum AS lang, 'prop' AS sel FROM prop
      |UNION ALL
      |SELECT id AS doc_id, stratum AS lang, 'bal' AS sel FROM bal""".stripMargin

  /** q173's (and q175's) oracle: the per-day digest table rebuilt
    * from the same canonical-integer row hashes — commutative folds,
    * so the DuckDB run stands in for the "other replica". */
  def fingerprintSql: String =
    """WITH h AS (SELECT strftime(ts, '%Y-%m-%d') AS day,
      |    ('0x' || substr(md5(event_id::VARCHAR || '|' ||
      |      user_id::VARCHAR || '|' || event_type || '|' ||
      |      epoch_us(ts)::VARCHAR || '|' ||
      |      CAST(round(value * 100, 0) AS BIGINT)::VARCHAR),
      |      1, 15))::BIGINT AS hv
      |  FROM events)
      |SELECT day, count(*)::BIGINT AS n, bit_xor(hv) AS xor_fp,
      |  CAST(sum(hv % 4294967296) AS BIGINT) AS sum_lo
      |FROM h GROUP BY day""".stripMargin

  /** q174's (and q182's) oracle: the classic window top-k with the
    * same DESC/DESC total order the heap keeps. */
  def groupTopKSql: String =
    """SELECT event_type, rank, value, event_id FROM (
      |  SELECT event_type, row_number() OVER (PARTITION BY event_type
      |      ORDER BY value DESC, event_id DESC)::BIGINT AS rank,
      |    value, event_id
      |  FROM events) WHERE rank <= 3""".stripMargin

  /** q177's (and q181's) oracle: latest-change-wins under the
    * (ts, id) total order over the WHOLE change set — equal to the
    * streamed sequential apply because the arrival batches are
    * event-time ordered. */
  def mergeIntoSql: String = mergeIntoSqlWhere("TRUE")

  /** The one-shot CDC merge with the change feed restricted to
    * `pred` (on orders columns) — "TRUE" = the full q177 merge;
    * prefixes oracle [[q189]]'s time-travel reads. */
  def mergeIntoSqlWhere(pred: String): String =
    s"""WITH ch AS (SELECT
      |    CASE WHEN o_custkey % 13 = 0 THEN o_custkey + 1000000
      |         ELSE o_custkey END AS c_custkey,
      |    CASE WHEN o_custkey % 11 = 0 THEN 'D' ELSE 'U' END AS op,
      |    o_orderpriority AS c_mktsegment, o_totalprice AS c_acctbal,
      |    o_orderdate AS ts, o_orderkey AS id
      |  FROM orders WHERE $pred),
      |latest AS (SELECT c_custkey, op, c_mktsegment, c_acctbal FROM (
      |  SELECT *, row_number() OVER (PARTITION BY c_custkey
      |    ORDER BY ts DESC, id DESC) AS rn FROM ch) WHERE rn = 1),
      |m AS (SELECT coalesce(b.c_custkey, l.c_custkey) AS c_custkey,
      |    CASE WHEN l.c_custkey IS NOT NULL THEN l.c_mktsegment
      |         ELSE b.c_mktsegment END AS c_mktsegment,
      |    CASE WHEN l.c_custkey IS NOT NULL THEN l.c_acctbal
      |         ELSE b.c_acctbal END AS c_acctbal,
      |    l.op AS op
      |  FROM customer b FULL JOIN latest l ON b.c_custkey = l.c_custkey)
      |SELECT c_custkey, c_mktsegment, c_acctbal FROM m
      |WHERE op IS NULL OR op <> 'D'""".stripMargin

  /** q187's (and q188's) oracle: the one-shot GROUP BY over the
    * facts that survive the insert/insert/retract commit sequence
    * (parts {0, 2}) — the incrementally-folded LONG state equals it
    * exactly for any batching, so one SQL oracles both gates. */
  def aggViewSql: String =
    """SELECT l_suppkey, strftime(l_shipdate, '%Y-%m') AS ship_month,
      |  count(*)::BIGINT AS cnt,
      |  sum(round(l_quantity)::BIGINT)::BIGINT AS sum_qty,
      |  sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT)::BIGINT
      |    AS rev_cents
      |FROM lineitem WHERE l_orderkey % 3 <> 1
      |GROUP BY 1, 2""".stripMargin

  /** q70's (and q143's) oracle: session_window re-derived via
    * lag/cumsum — new session iff the gap STRICTLY exceeds 30 min
    * (session_window merges at exactly the gap, boundary pinned by
    * SessionizeSpec); sess_end = last event ts + gap. */
  def sessionSql: String =
    """WITH g AS (SELECT user_id, event_id, ts,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      |  FROM events),
      |f AS (SELECT user_id, event_id, ts,
      |    CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM g),
      |s AS (SELECT user_id, ts, SUM(new_sess) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_idx
      |  FROM f)
      |SELECT user_id, min(ts) AS sess_start,
      |  max(ts) + INTERVAL 30 MINUTE AS sess_end, count(*)::BIGINT AS n_events
      |FROM s GROUP BY user_id, sess_idx""".stripMargin

  /** q132's (and q135's) oracle: the identical 4x256 Count-Min
    * counter matrix rebuilt in SQL from the same md5-slice hash
    * family, probed at the exact top-20 tokens. */
  def countMinSql: String =
    s"""WITH toks AS ($toksCte),
       |occ AS (SELECT unnest(t) AS tok FROM toks),
       |rws AS (SELECT j FROM generate_series(0, 3) t(j)),
       |cells AS (SELECT j,
       |    ('0x' || substr(md5(tok), 8 * j + 1, 8))::BIGINT % 256 AS c,
       |    count(*)::BIGINT AS n
       |  FROM occ CROSS JOIN rws GROUP BY 1, 2),
       |probes AS (SELECT tok, count(*)::BIGINT AS exact_count FROM occ
       |  GROUP BY tok ORDER BY exact_count DESC, tok LIMIT 20),
       |lu AS (SELECT p.tok, p.exact_count, r.j,
       |    ('0x' || substr(md5(p.tok), 8 * r.j + 1, 8))::BIGINT % 256 AS c
       |  FROM probes p CROSS JOIN rws r)
       |SELECT lu.tok AS token, lu.exact_count, min(cells.n) AS est_count
       |FROM lu JOIN cells ON cells.j = lu.j AND cells.c = lu.c
       |GROUP BY 1, 2""".stripMargin

  def hllSql: String = hllSql(includeExact = true)

  /** q133's (and q134's, minus the non-streamable exact column)
    * DuckDB twin: rebuild all 512 HLL registers from the same
    * md5-52-bit hash (bucket = top 9 bits, rho = 43 - floor(log2
    * tail); exact — see HllSketchAggregate scaladoc), left-fold the
    * exact 2^-M terms in register order, apply the same alpha literal
    * and linear-counting branch, round at 4 dp. */
  def hllSql(includeExact: Boolean): String = {
    val alpha = java.lang.Double.toString(graft.expressions.HllSketch.alpha(512))
    val exactCol = if (includeExact) ",\n  ex.exact_distinct" else ""
    val exactJoin = if (includeExact) "\nFROM est JOIN ex USING (g)" else "\nFROM est"
    s"""WITH vals AS (SELECT event_type AS g, CAST(user_id AS VARCHAR) AS s,
       |    user_id FROM events),
       |h AS (SELECT g, user_id, ('0x' || substr(md5(s), 1, 13))::BIGINT AS h
       |  FROM vals),
       |rr AS (SELECT g, h >> 43 AS b,
       |    CASE WHEN (h & ((1::BIGINT << 43) - 1)) = 0 THEN 44
       |         ELSE 43 - CAST(floor(log2(h & ((1::BIGINT << 43) - 1))) AS BIGINT)
       |    END AS r
       |  FROM h),
       |mx AS (SELECT g, b, max(r) AS mr FROM rr GROUP BY g, b),
       |grid AS (SELECT gg.g, t.j FROM (SELECT DISTINCT g FROM vals) gg
       |  CROSS JOIN generate_series(0, 511) t(j)),
       |regs AS (SELECT grid.g, grid.j, coalesce(mx.mr, 0) AS mr
       |  FROM grid LEFT JOIN mx ON mx.g = grid.g AND mx.b = grid.j),
       |sm AS (SELECT g,
       |    list_reduce(list_prepend(0.0, list(1.0 / (1::BIGINT << mr) ORDER BY j)),
       |      (a, x) -> a + x) AS s,
       |    sum(CASE WHEN mr = 0 THEN 1 ELSE 0 END) AS v
       |  FROM regs GROUP BY g),
       |ex AS (SELECT g, count(DISTINCT user_id)::BIGINT AS exact_distinct
       |  FROM vals GROUP BY g),
       |est AS (SELECT g, $alpha::DOUBLE * 512.0 * 512.0 / s AS raw, v FROM sm)
       |SELECT est.g AS event_type,
       |  round(CASE WHEN raw <= 1280.0 AND v > 0
       |             THEN 512.0 * ln(512.0 / v) ELSE raw END, 4) AS approx_distinct$exactCol$exactJoin""".stripMargin
  }

  /** q130's DuckDB twin: the DDSketch estimate for rank r equals the
    * bucket representative of the r-th order statistic, so the SQL
    * needs ONE bucketing (comparison count against the shared
    * Scala-generated boundary literals) per (group, quantile), not a
    * histogram replay. Rank rule and representative math are the
    * identical double expressions as `DdSketchAggregate.eval`. */
  def ddSketchSql(quantiles: Seq[Double]): String = {
    val bounds = graft.expressions.DdSketch.boundaries(0.01, 1.0, 2e5)
    val bl = graft.expressions.DdSketch.sqlList(bounds)
    val nb = bounds.length
    val ql = quantiles.mkString("[", ", ", "]")
    s"""WITH vals AS (SELECT l_returnflag AS g, l_extendedprice AS x FROM lineitem),
       |n AS (SELECT g, count(*) AS n FROM vals GROUP BY g),
       |qs AS (SELECT unnest($ql::DOUBLE[]) AS q),
       |rk AS (SELECT g, q, greatest(1, CAST(ceil(q * n) AS BIGINT)) AS r
       |  FROM n CROSS JOIN qs),
       |ord AS (SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY x) AS rn
       |  FROM vals),
       |xr AS (SELECT rk.g, rk.q, ord.x
       |  FROM rk JOIN ord ON ord.g = rk.g AND ord.rn = rk.r),
       |bl AS (SELECT $bl::DOUBLE[] AS bs),
       |idx AS (SELECT g, q, len(list_filter(bs, b -> b <= x)) AS i
       |  FROM xr CROSS JOIN bl)
       |SELECT g AS l_returnflag, q,
       |  CASE WHEN i <= 0 THEN bs[1]
       |       WHEN i >= $nb THEN bs[$nb]
       |       ELSE 2.0 * bs[i] * bs[i + 1] / (bs[i] + bs[i + 1]) END AS est
       |FROM idx CROSS JOIN bl""".stripMargin
  }

  val toksCte =
    "SELECT doc_id, lang, n_chars, text, list_filter(string_split(lower(text), ' '), x -> x <> '') AS t FROM documents"

  /** q80's decontamination oracle — also q93's (the streaming replay
    * screens the same train slice; per-batch union == batch answer).
    * Same distinct 4-shingle explode on both sides, same %97 split. */
  def decontaminateSql: String =
    s"""WITH toks AS ($toksCte),
       |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(t) - 3),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS s
       |  FROM toks),
       |tr AS (SELECT doc_id AS train_id, s FROM sh WHERE doc_id % 97 <> 0),
       |ev AS (SELECT doc_id AS eval_id, s FROM sh WHERE doc_id % 97 = 0)
       |SELECT train_id, eval_id, count(*)::BIGINT AS n_shared
       |FROM tr JOIN ev USING (s)
       |GROUP BY train_id, eval_id""".stripMargin

  /** Random-hyperplane LSH bucket as DuckDB SQL over a DOUBLE[] column —
    * generated from the SAME `Similarity.planeSigns` the Spark plan
    * uses, so buckets agree bit-for-bit (each float→double product is
    * exact; both sides accumulate in index order). */
  def lshBucketSqlExpr(vecExpr: String, nBits: Int, dim: Int): String =
    operators.Similarity.planeSigns(nBits, dim).zipWithIndex.map { case (p, b) =>
      val arr = p.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product($vecExpr, $arr) > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")

  def embedNearDupSql: String =
    s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |b AS (SELECT vec_id, v, ${lshBucketSqlExpr("v", 4, 64)} AS bucket,
       |  sqrt(list_dot_product(v, v)) AS nrm FROM base)
       |SELECT a.vec_id AS id_a, bb.vec_id AS id_b,
       |  list_dot_product(a.v, bb.v) / (a.nrm * bb.nrm) AS cosine
       |FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
       |WHERE list_dot_product(a.v, bb.v) / (a.nrm * bb.nrm) >= 0.3""".stripMargin

  /** q66 oracle: Broder minhash estimator replicated in SQL — same
    * shingle hash (md5(s || seed)), same band buckets
    * (md5(s_i || '|' || ...) = Spark's md5(concat_ws("|", ...))),
    * same n_agree/16 exact rational. */
  def minhashEstimateSql: String = {
    val nH = 16; val bs = 4
    // component i = 8-hex slice (i%4) of md5(s || group i/4) — matches
    // Dedup.minhashSignatures' 4-components-per-md5 scheme
    val sigDefs = (0 until nH).map(i =>
      s"min(substr(md5(s || '${i / 4}'), ${(i % 4) * 8 + 1}, 8)) AS s$i").mkString(", ")
    val bandSelects = (0 until nH / bs).map { b =>
      val keys = (b * bs until (b + 1) * bs).map(i => s"s$i").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($keys) AS bucket FROM sigs"
    }.mkString(" UNION ALL ")
    val agree = (0 until nH)
      .map(i => s"(CASE WHEN sa.s$i = sb.s$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH toks AS ($toksCte),
       |sh AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
       |  i -> t[i] || ' ' || t[i + 1])) AS s FROM toks),
       |sigs AS (SELECT doc_id, $sigDefs FROM sh GROUP BY doc_id),
       |bands AS ($bandSelects),
       |cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
       |    AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b,
       |  CAST($agree AS BIGINT) AS n_agree,
       |  CAST($agree AS DOUBLE) / 16.0 AS est_jaccard
       |FROM cands JOIN sigs sa ON doc_a = sa.doc_id
       |JOIN sigs sb ON doc_b = sb.doc_id""".stripMargin
  }

  /** 64-bit variant of TextDedup's `simhashCteSql`: bit b votes on bit (3 - b%4)
    * of md5 hex nibble b/4 (strpos hex decode mirrors the Spark side's
    * instr formulation). The oracle verifies pairs brute-force — the
    * banding is the Spark side's scale optimization, proven equivalent
    * by pigeonhole (and by SimhashNearDupSpec). */
  def simhash64PairsSql: String = {
    val sums = (0 until 64).map { b =>
      val mask = 8 >> (b % 4)
      s"sum(CASE WHEN ((strpos('0123456789abcdef', substr(md5(tok), ${b / 4 + 1}, 1)) - 1) & $mask) > 0 THEN 1 ELSE -1 END) AS p$b"
    }.mkString(", ")
    val bits = (0 until 64).map(i =>
      s"CASE WHEN p$i > 0 THEN CAST(${1L << (63 - i)} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
      .mkString(" + ")
    s"""WITH toks AS (SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS tok FROM documents),
       |sums AS (SELECT doc_id, $sums FROM toks GROUP BY doc_id),
       |sims AS (SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM sums)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM sims a JOIN sims b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin
  }

  /** q210's oracle shape, parameterized by the index root so q215's
    * incrementally-built index replays the identical probe + re-rank
    * from ITS persisted bytes: c2 and every dot are index-ordered
    * double folds on float32 values that round-trip parquet exactly —
    * hash-exact, and it proves stored postings == live assignment. */
  def ivfIndexSql(path: String): String =
    s"""WITH cent AS (SELECT cell::INT AS cell,
      |    centroid::DOUBLE[] AS cv,
      |    list_dot_product(centroid::DOUBLE[], centroid::DOUBLE[]) AS c2
      |  FROM read_parquet('$path/cent/*.parquet')),
      |post AS (SELECT cell::INT AS cell, cand_id, cv::DOUBLE[] AS pv
      |  FROM read_parquet('$path/post/*/*/*.parquet',
      |    hive_partitioning=1)),
      |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      |  FROM embeddings WHERE vec_id < 10),
      |dist AS (SELECT q.query_id, c.cell,
      |    c.c2 - 2 * list_dot_product(q.qv, c.cv) AS d, q.qv
      |  FROM q CROSS JOIN cent c),
      |probes AS (SELECT query_id, cell, qv FROM (
      |  SELECT query_id, cell, qv, row_number() OVER (
      |    PARTITION BY query_id ORDER BY d, cell) AS rn FROM dist)
      |  WHERE rn <= 4),
      |scored AS (SELECT p.query_id, t.cand_id,
      |    list_dot_product(p.qv, t.pv)
      |      / (sqrt(list_dot_product(p.qv, p.qv))
      |        * sqrt(list_dot_product(t.pv, t.pv))) AS cosine
      |  FROM probes p JOIN post t USING (cell)
      |  WHERE p.query_id <> t.cand_id)
      |SELECT query_id, cand_id, cosine, rank FROM (
      |  SELECT query_id, cand_id, cosine, row_number() OVER (
      |    PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
      |  FROM scored) WHERE rank <= 5""".stripMargin

  /** q222's oracle (and q224's — the streaming gate's state-store
    * daily registers equal the batch daily states): q133's register
    * rebuild merged per trailing 7-day window. */
  def rollingMauSql: String = {
      val alpha =
        java.lang.Double.toString(graft.expressions.HllSketch.alpha(512))
      s"""WITH vals AS (SELECT ts::DATE AS day,
         |    CAST(user_id AS VARCHAR) AS s FROM events),
         |h AS (SELECT day, ('0x' || substr(md5(s), 1, 13))::BIGINT AS h
         |  FROM vals),
         |rr AS (SELECT day, h >> 43 AS b,
         |    CASE WHEN (h & ((1::BIGINT << 43) - 1)) = 0 THEN 44
         |         ELSE 43 - CAST(floor(log2(h & ((1::BIGINT << 43) - 1))) AS BIGINT)
         |    END AS r
         |  FROM h),
         |mx AS (SELECT day, b, max(r) AS mr FROM rr GROUP BY 1, 2),
         |days AS (SELECT DISTINCT day FROM vals),
         |nd AS (SELECT d.day, count(*)::BIGINT AS n_days
         |  FROM days d JOIN days m ON m.day BETWEEN d.day - 6 AND d.day
         |  GROUP BY 1),
         |win AS (SELECT d.day, mx.b, max(mx.mr) AS mr
         |  FROM days d JOIN mx ON mx.day BETWEEN d.day - 6 AND d.day
         |  GROUP BY 1, 2),
         |grid AS (SELECT d.day, t.j
         |  FROM days d CROSS JOIN generate_series(0, 511) t(j)),
         |regs AS (SELECT grid.day, grid.j, coalesce(win.mr, 0) AS mr
         |  FROM grid LEFT JOIN win ON win.day = grid.day AND win.b = grid.j),
         |sm AS (SELECT day,
         |    list_reduce(list_prepend(0.0, list(1.0 / (1::BIGINT << mr) ORDER BY j)),
         |      (a, x) -> a + x) AS s,
         |    sum(CASE WHEN mr = 0 THEN 1 ELSE 0 END) AS v
         |  FROM regs GROUP BY 1),
         |est AS (SELECT day,
         |    $alpha::DOUBLE * 512.0 * 512.0 / s AS raw, v FROM sm)
         |SELECT strftime(est.day, '%Y-%m-%d') AS day, nd.n_days,
         |  round(CASE WHEN raw <= 1280.0 AND v > 0
         |             THEN 512.0 * ln(512.0 / v) ELSE raw END, 4)
         |    AS rolling_mau
         |FROM est JOIN nd USING (day)""".stripMargin
  }

  /** q216's oracle (and q219's — the streaming gate's state-store
    * daily snapshot equals the batch daily table, so the same SQL
    * grades both): per-user OLS from exact integer moments. */
  def trendFitSql: String =
      """WITH daily AS (SELECT user_id, ts::DATE AS day,
        |    sum(round(value * 100))::BIGINT AS y,
        |    (ts::DATE - DATE '2024-01-01')::BIGINT AS x
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2, 4),
        |m AS (SELECT user_id, count(*)::BIGINT AS n,
        |    sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
        |    sum(x * x)::BIGINT AS sxx, sum(x * y)::BIGINT AS sxy
        |  FROM daily GROUP BY 1)
        |SELECT user_id, n AS n_days,
        |  (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE
        |    AS slope,
        |  (sy::DOUBLE - ((n * sxy - sx * sy)::DOUBLE
        |      / (n * sxx - sx * sx)::DOUBLE) * sx::DOUBLE) / n::DOUBLE
        |    AS intercept
        |FROM m WHERE n * sxx - sx * sx > 0""".stripMargin

  /** q207's oracle (and q209's — the streaming gate's state-store
    * snapshot equals the batch count table, so the same SQL grades
    * both): pairwise Jensen–Shannon divergence from per-language
    * unigram counts, out-of-vocab tails in closed form from integer
    * coverage sums, term sums rounded at 6 dp (rule 9). */
  def langJsdSql: String =
      """WITH c AS MATERIALIZED (SELECT lang, w, count(*)::BIGINT AS c
        |  FROM (SELECT lang,
        |      unnest(list_filter(string_split(lower(text), ' '),
        |        x -> x <> '')) AS w
        |    FROM documents)
        |  GROUP BY 1, 2),
        |t AS MATERIALIZED (SELECT lang, sum(c)::BIGINT AS n
        |  FROM c GROUP BY 1),
        |pr AS (SELECT ta.lang AS lang_a, tb.lang AS lang_b,
        |    ta.n AS n_a, tb.n AS n_b
        |  FROM t ta, t tb WHERE ta.lang < tb.lang),
        |j AS (SELECT a.lang AS lang_a, b.lang AS lang_b,
        |    a.c AS ca, b.c AS cb, ta.n AS n_a, tb.n AS n_b
        |  FROM c a JOIN c b USING (w)
        |  JOIN t ta ON ta.lang = a.lang JOIN t tb ON tb.lang = b.lang
        |  WHERE a.lang < b.lang),
        |g AS (SELECT lang_a, lang_b,
        |    sum((ca::DOUBLE / n_a::DOUBLE)
        |      * ln(2.0::DOUBLE * (ca::DOUBLE / n_a::DOUBLE)
        |        / (ca::DOUBLE / n_a::DOUBLE + cb::DOUBLE / n_b::DOUBLE)))
        |      AS sa,
        |    sum((cb::DOUBLE / n_b::DOUBLE)
        |      * ln(2.0::DOUBLE * (cb::DOUBLE / n_b::DOUBLE)
        |        / (ca::DOUBLE / n_a::DOUBLE + cb::DOUBLE / n_b::DOUBLE)))
        |      AS sb,
        |    sum(ca)::BIGINT AS sca, sum(cb)::BIGINT AS scb
        |  FROM j GROUP BY 1, 2)
        |SELECT lang_a, lang_b,
        |  round(0.5::DOUBLE * (coalesce(sa, 0.0::DOUBLE)
        |      + (1.0::DOUBLE - coalesce(sca, 0)::DOUBLE / n_a::DOUBLE)
        |        * ln(2.0::DOUBLE))
        |    + 0.5::DOUBLE * (coalesce(sb, 0.0::DOUBLE)
        |      + (1.0::DOUBLE - coalesce(scb, 0)::DOUBLE / n_b::DOUBLE)
        |        * ln(2.0::DOUBLE)),
        |    6) AS jsd,
        |  n_a, n_b
        |FROM pr LEFT JOIN g USING (lang_a, lang_b)""".stripMargin
}
