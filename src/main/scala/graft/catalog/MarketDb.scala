package graft
package catalog

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._
import Shared._

/** Catalog family — series scans, merges, as-of joins, bars,
  * resampling, UID dictionaries and ingest over the events table. */
object MarketDb {

  // lazy: the private helpers below must be initialized first
  lazy val gates: Seq[Gate] = Seq(
    Gate("q11_series_scan", (s, dir) => {
      SeriesScan.scan(tbl(s, dir, "events"),
          Map("user_id" -> 7L, "event_type" -> "view"), "ts",
          t("2024-01-05T00:00:00Z"), t("2024-01-20T00:00:00Z"))
        .select("event_id", "ts", "user_id", "value")
    },
      """SELECT event_id, ts, user_id, value FROM events
        |WHERE user_id = 7 AND event_type = 'view'
        |  AND ts >= TIMESTAMP '2024-01-05 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-20 00:00:00'""".stripMargin),
    Gate("q12_series_count", (s, dir) => {
      SeriesScan.scan(tbl(s, dir, "events"),
          Map("user_id" -> 42L, "event_type" -> "click"), "ts",
          t("2024-01-01T00:00:00Z"), t("2024-01-31T00:00:00Z"))
        .agg(count("*").as("trades_count"),
          min("ts").as("first_ts"), max("ts").as("last_ts"))
    },
      """SELECT count(*) AS trades_count, min(ts) AS first_ts, max(ts) AS last_ts
        |FROM events
        |WHERE user_id = 42 AND event_type = 'click'
        |  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-31 00:00:00'""".stripMargin),
    Gate("q13_merge_streams", (s, dir) => {
      // sort over union, planned as the one-task k-way merge of
      // pre-sorted series (Spark's own sort on big inputs)
      val ev = tbl(s, dir, "events").where(col("user_id") < 20)
      def series(tpe: String) = ev.where(col("event_type") === tpe)
        .withColumn("stream", lit(tpe))
        .select("stream", "event_id", "ts", "user_id", "value")
      OrderedMerge.mergeSorted("ts", series("click"), series("view"))
    },
      """SELECT 'click' AS stream, event_id, ts, user_id, value FROM events
        |WHERE event_type = 'click' AND user_id < 20
        |UNION ALL
        |SELECT 'view' AS stream, event_id, ts, user_id, value FROM events
        |WHERE event_type = 'view' AND user_id < 20""".stripMargin),
    Gate("q14_hour_bars", (s, dir) => {
      tbl(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg(count("*").as("n"), round(sum("value"), 4).as("volume"),
          min("value").as("low"), max("value").as("high"),
          // unique (ts, event_id) tiebreak (hard rule 4)
          min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
          max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"))
    },
      """SELECT event_type, date_trunc('hour', ts) AS bucket, count(*) AS n,
        |  round(sum(value), 4) AS volume, min(value) AS low, max(value) AS high,
        |  first(value ORDER BY ts, event_id) AS open,
        |  last(value ORDER BY ts, event_id) AS close
        |FROM events GROUP BY event_type, date_trunc('hour', ts)""".stripMargin),
    Gate("q15_dedup_first", (s, dir) => {
      val ev = tbl(s, dir, "events").withColumn("day", to_date(col("ts")))
      Dedup.firstByKey(ev, Seq("user_id", "event_type", "day"), Seq("ts", "event_id"))
        .select("event_id", "user_id", "event_type", "day", "ts")
    },
      """SELECT event_id, user_id, event_type, day, ts FROM (
        |  SELECT event_id, user_id, event_type, CAST(ts AS DATE) AS day, ts,
        |    row_number() OVER (PARTITION BY user_id, event_type, CAST(ts AS DATE)
        |      ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin),
    Gate("q16_gap_detect", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      tbl(s, dir, "events")
        .select(col("user_id"),
          (unix_micros(col("ts").cast("timestamp")) -
            lag(unix_micros(col("ts").cast("timestamp")), 1).over(w)).as("gap_us"))
        .where(col("gap_us") > 21600000000L)
        .groupBy("user_id")
        .agg(count("*").as("n_gaps"))
    },
      """SELECT user_id, count(*) AS n_gaps FROM (
        |  SELECT user_id, epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM events) WHERE gap_us > 21600000000 GROUP BY user_id""".stripMargin),
    Gate("q17_active_days", (s, dir) => {
      tbl(s, dir, "events")
        .groupBy("user_id")
        .agg(min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
    },
      """WITH spans AS (SELECT user_id, min(CAST(ts AS DATE)) AS d0,
        |    max(CAST(ts AS DATE)) AS d1 FROM events GROUP BY user_id)
        |SELECT user_id,
        |  unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        |FROM spans""".stripMargin),
    Gate("q18_time_parts", (s, dir) => {
      tbl(s, dir, "events")
        .where(col("user_id") < 5)
        .select(col("event_id"),
          year(col("ts")).cast("long").as("yr"),
          dayofyear(col("ts")).cast("long").as("doy"),
          (hour(col("ts")) * 60 + minute(col("ts"))).cast("long").as("minute_of_day"),
          unix_millis(col("ts").cast("timestamp")).as("ts_ms"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm").as("label"))
    },
      """SELECT event_id, CAST(year(ts) AS BIGINT) AS yr,
        |  CAST(dayofyear(ts) AS BIGINT) AS doy,
        |  CAST(hour(ts) * 60 + minute(ts) AS BIGINT) AS minute_of_day,
        |  epoch_ms(ts) AS ts_ms,
        |  strftime(ts, '%Y-%m-%d %H:%M') AS label
        |FROM events WHERE user_id < 5""".stripMargin),
    Gate("q19_uid_dict", (s, dir) => {
      val ev = tbl(s, dir, "events")
      val dict = UidDictionary.build(ev, "event_type")
      UidDictionary.encode(ev, dict, "event_type", "uid")
        .groupBy("event_type", "uid")
        .agg(count("*").as("n"))
    },
      """WITH dict AS (SELECT name, row_number() OVER (ORDER BY name) AS uid
        |  FROM (SELECT DISTINCT event_type AS name FROM events))
        |SELECT e.event_type, d.uid, count(*) AS n
        |FROM events e JOIN dict d ON e.event_type = d.name
        |GROUP BY e.event_type, d.uid""".stripMargin),
    Gate("q29_asof_join", (s, dir) => {
      // Right side pre-deduped to one row per (user_id, ts) with an
      // explicit max_by(event_id) winner: DuckDB ASOF JOIN has no
      // defined tie-break among equal right timestamps, so the tie is
      // pinned BEFORE the join on both engines (hard rule 4).
      val ev = tbl(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .groupBy("user_id", "ts")
        .agg(max_by(col("value"), col("event_id")).as("value"))
      AsOfJoin.asOf(
          left = ev.where(col("event_type") === "purchase"),
          right = clicks,
          keyCols = Seq("user_id"),
          leftTime = "ts", rightTime = "ts",
          rightVals = Seq("ts" -> "last_click_ts", "value" -> "last_click_value"))
        .select("event_id", "user_id", "ts", "value",
          "last_click_ts", "last_click_value")
    },
      """SELECT p.event_id, p.user_id, p.ts, p.value,
        |  c.ts AS last_click_ts, c.value AS last_click_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (
        |  SELECT user_id, ts, max_by(value, event_id) AS value
        |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts) c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin),
    Gate("q30_sorted_limit", (s, dir) => {
      tbl(s, dir, "events")
        .orderBy(col("ts"), col("event_id"))
        .limit(100)
        .select("event_id", "ts", "user_id", "event_type", "value")
    },
      """SELECT event_id, ts, user_id, event_type, value FROM events
        |ORDER BY ts, event_id LIMIT 100""".stripMargin),
    Gate("q31_vwap", (s, dir) => {
      // VWAP per part per order-year: sum(p*q)/sum(q) where
      // l_extendedprice is already price*qty in TPC-H convention
      tbl(s, dir, "lineitem")
        .join(tbl(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_partkey"), year(col("o_orderdate")).cast("long").as("yr"))
        // exact-cent numerator (see scaledLong): the quotient of a 2-dp
        // sum by an integer quantity lands exactly on round-boundary
        // half-way points, so rounding is NOT hash-safe here
        .agg((sum(scaledLong(col("l_extendedprice"), 2)).cast("double")
            / lit(100.0) / sum("l_quantity")).as("vwap"),
          sum("l_quantity").as("volume"))
    },
      """SELECT l_partkey, CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
        |    / 100.0 / sum(l_quantity) AS vwap,
        |  sum(l_quantity) AS volume
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_partkey, CAST(year(o_orderdate) AS BIGINT)""".stripMargin),
    Gate("q32_running_sum", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // Rounded identically on both engines: DuckDB evaluates windowed
      // sums with a segment tree, Spark with a linear scan — different
      // association, last-ulp drift (values ~1e3, diff ~5e-13 at sf0.01;
      // 6 dp boundary is 1e6x above the noise).
      tbl(s, dir, "events")
        .where(col("user_id") < 10)
        .select(col("user_id"), col("event_id"), col("ts"),
          round(sum("value").over(w), 6).as("running_value"))
    },
      """SELECT user_id, event_id, ts,
        |  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS running_value
        |FROM events WHERE user_id < 10""".stripMargin),
    Gate("q33_ohlc_fold", (s, dir) => {
      // custom typed Aggregator (single-pass OHLC fold, §2.10)
      val ohlc = udaf(graft.functions.OhlcAggregator.agg)
      tbl(s, dir, "events")
        .where(col("event_type") === "purchase")
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(ohlc(unix_micros(col("ts").cast("timestamp")), col("event_id"),
          col("value")).as("o"))
        .select(col("user_id"), col("day"),
          col("o.open").as("open"), col("o.high").as("high"),
          col("o.low").as("low"), col("o.close").as("close"),
          // volume is a double sum folded in merge order — round
          // identically on both engines (values ~1e2, 6 dp margin 1e9x)
          round(col("o.volume"), 6).as("volume"), col("o.n").as("n"))
    },
      """SELECT user_id, CAST(ts AS DATE) AS day,
        |  first(value ORDER BY ts, event_id) AS open, max(value) AS high,
        |  min(value) AS low, last(value ORDER BY ts, event_id) AS close,
        |  round(sum(value), 6) AS volume, count(*) AS n
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id, CAST(ts AS DATE)""".stripMargin),
    Gate("q36_sessionize", (s, dir) => {
      // 30-minute-inactivity sessionization: flag + running sum + agg
      val wOrd = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val tsUs = unix_micros(col("ts").cast("timestamp"))
      tbl(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"),
          (tsUs - lag(tsUs, 1).over(wOrd)).as("gap_us"))
        .withColumn("new_sess",
          when(col("gap_us").isNull || col("gap_us") > 1800000000L, 1L).otherwise(0L))
        .withColumn("sess_idx", sum("new_sess").over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sess_idx")
        .agg(count("*").as("n_events"), min("ts").as("start_ts"), max("ts").as("end_ts"))
    },
      """WITH g AS (SELECT user_id, event_id, ts,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM events),
        |f AS (SELECT user_id, event_id, ts,
        |    CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM g),
        |s AS (SELECT user_id, ts, CAST(SUM(new_sess) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_idx
        |  FROM f)
        |SELECT user_id, sess_idx, count(*) AS n_events,
        |  min(ts) AS start_ts, max(ts) AS end_ts
        |FROM s GROUP BY user_id, sess_idx""".stripMargin),
    Gate("q41_rolling_24h", (s, dir) => {
      // RANGE-frame rolling window: trailing 24h per user on event time
      val w = Window.partitionBy("user_id")
        .orderBy(unix_micros(col("ts").cast("timestamp")))
        .rangeBetween(-86399999999L, 0L)
      tbl(s, dir, "events")
        .where(col("user_id") < 30)
        .select(col("user_id"), col("event_id"), col("ts"),
          count("*").over(w).as("n_24h"),
          // exact windowed avg: integer-cent sum over the window (both
          // engines sum BIGINT exactly), then a fixed divide sequence
          (sum(scaledLong(col("value"), 2)).over(w).cast("double")
            / lit(100.0) / count("*").over(w)).as("avg_24h"))
    },
      """SELECT user_id, event_id, ts,
        |  count(*) OVER w AS n_24h,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS DOUBLE)
        |    / 100.0 / count(*) OVER w AS avg_24h
        |FROM events WHERE user_id < 30
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 86399999999 PRECEDING AND CURRENT ROW)""".stripMargin),
    Gate("q50_time_buckets", (s, dir) => {
      // batch tumbling windows (reference's per-minute row-key bucketing
      // generalized, `model/Trade.scala:24-28`); epoch-aligned 6h grid
      tbl(s, dir, "events")
        .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
        .agg(count("*").as("n"),
          (sum(scaledLong(col("value"), 2)).cast("double")
            / lit(100.0) / count(lit(1))).as("avg_value"))
        .select(col("w.start").as("w_start"), col("w.end").as("w_end"),
          col("event_type"), col("n"), col("avg_value"))
    },
      """SELECT time_bucket(INTERVAL '6 hours', ts) AS w_start,
        |  time_bucket(INTERVAL '6 hours', ts) + INTERVAL '6 hours' AS w_end,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
        |    / 100.0 / count(*) AS avg_value
        |FROM events GROUP BY 1, 2, 3""".stripMargin),
    Gate("q57_sliding_windows", (s, dir) => {
      // overlapping (hopping) windows in batch: 6h window, 3h slide —
      // every event lands in exactly two windows. avg_value is computed
      // from an exact integer-cent sum (see scaledLong) so both engines
      // agree bit-for-bit without rounding.
      tbl(s, dir, "events")
        .groupBy(window(col("ts"), "6 hours", "3 hours").as("w"))
        .agg(count("*").as("n"),
          (sum(scaledLong(col("value"), 2)).cast("double")
            / lit(100.0) / count(lit(1))).as("avg_value"))
        .select(col("w.start").as("w_start"), col("w.end").as("w_end"),
          col("n"), col("avg_value"))
    },
      """WITH x AS (SELECT time_bucket(INTERVAL '3 hours', ts) AS s0, value
        |  FROM events),
        |w AS (SELECT s0 AS w_start, value FROM x
        |  UNION ALL SELECT s0 - INTERVAL '3 hours' AS w_start, value FROM x)
        |SELECT w_start, w_start + INTERVAL '6 hours' AS w_end,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
        |    / 100.0 / count(*) AS avg_value
        |FROM w GROUP BY w_start""".stripMargin),
    Gate("q60_order_book", (s, dir) => {
      // order-book reconstruction (custom typed Aggregator, §2.10):
      // click=bid view=ask deltas on a floored price grid, every 7th
      // event a cancel; top-of-book per user
      val book = udaf(graft.functions.OrderBookAggregator.agg)
      val ev = tbl(s, dir, "events")
        .where(col("event_type").isin("click", "view") && col("user_id") < 20)
        .select(col("user_id"),
          when(col("event_type") === "click", 1).otherwise(2)
            .cast("smallint").as("bdir"),
          (floor(col("value") * 10) / 10.0).as("price"),
          when(col("event_id") % 7 === 0, -1L).otherwise(1L).as("qty"))
      ev.groupBy("user_id")
        .agg(book(col("bdir"), col("price"), col("qty")).as("b"))
        .select(col("user_id"),
          col("b.bestBid").as("best_bid"), col("b.bidDepth").as("bid_depth"),
          col("b.bestAsk").as("best_ask"), col("b.askDepth").as("ask_depth"),
          col("b.nLevels").as("n_levels"))
    },
      """WITH d AS (SELECT user_id,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 2 END AS bdir,
        |    floor(value * 10) / 10.0 AS price,
        |    CASE WHEN event_id % 7 = 0 THEN -1 ELSE 1 END AS qty
        |  FROM events
        |  WHERE event_type IN ('click', 'view') AND user_id < 20),
        |lv AS (SELECT user_id, bdir, price, CAST(sum(qty) AS BIGINT) AS q
        |  FROM d GROUP BY user_id, bdir, price HAVING sum(qty) > 0),
        |tops AS (SELECT user_id,
        |    max(CASE WHEN bdir = 1 THEN price END) AS best_bid,
        |    min(CASE WHEN bdir = 2 THEN price END) AS best_ask,
        |    CAST(count(*) AS BIGINT) AS n_levels
        |  FROM lv GROUP BY user_id)
        |SELECT t.user_id, t.best_bid,
        |  CAST(coalesce((SELECT sum(q) FROM lv
        |    WHERE user_id = t.user_id AND bdir = 1 AND price = t.best_bid), 0)
        |    AS BIGINT) AS bid_depth,
        |  t.best_ask,
        |  CAST(coalesce((SELECT sum(q) FROM lv
        |    WHERE user_id = t.user_id AND bdir = 2 AND price = t.best_ask), 0)
        |    AS BIGINT) AS ask_depth,
        |  t.n_levels
        |FROM tops t""".stripMargin),
    Gate("q61_asof_forward", (s, dir) => {
      // forward as-of: each signup matched to the user's first
      // subsequent purchase (earliest right at or after left time)
      // right side pre-deduped per (user_id, ts) — see q29 rationale
      val ev = tbl(s, dir, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy("user_id", "ts")
        .agg(max_by(col("value"), col("event_id")).as("value"))
      AsOfJoin.asOf(
          left = ev.where(col("event_type") === "signup"),
          right = purchases,
          keyCols = Seq("user_id"),
          leftTime = "ts", rightTime = "ts",
          rightVals = Seq("ts" -> "first_purchase_ts",
            "value" -> "first_purchase_value"),
          forward = true)
        .select("event_id", "user_id", "ts",
          "first_purchase_ts", "first_purchase_value")
    },
      """SELECT s.event_id, s.user_id, s.ts,
        |  p.ts AS first_purchase_ts, p.value AS first_purchase_value
        |FROM (SELECT * FROM events WHERE event_type = 'signup') s
        |ASOF LEFT JOIN (
        |  SELECT user_id, ts, max_by(value, event_id) AS value
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts) p
        |  ON s.user_id = p.user_id AND s.ts <= p.ts""".stripMargin),
    Gate("q62_hetero_merge", (s, dir) => {
      // heterogeneous series merge with superset-schema null-fill and a
      // stream discriminator — the reference's signature trades⋈orders
      // read path (MultipleTimeSeriesEnumeratorTest.scala:262-311):
      // the purchase stream carries a trade-like `value` payload, the
      // click stream an order-like `k` attribute; the merged stream has
      // BOTH columns, null-filled where the source lacks them.
      val ev = tbl(s, dir, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("ts"), col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
      OrderedMerge.mergeTagged("ts", "purchase" -> purchases, "click" -> clicks)
    },
      """SELECT event_id, ts, user_id, value, 'purchase' AS stream,
        |  CAST(NULL AS BIGINT) AS k
        |FROM events WHERE event_type = 'purchase'
        |UNION ALL
        |SELECT event_id, ts, user_id, CAST(NULL AS DOUBLE) AS value,
        |  'click' AS stream, json_extract(props, '$.k')::BIGINT AS k
        |FROM events WHERE event_type = 'click'""".stripMargin),
    Gate("q65_merge_limit", (s, dir) => {
      // tied merge + limit: the merge's sort by (ts, event_id) under a
      // limit plans as one top-n over the union, so the earliest-100
      // row SET is deterministic even where equal timestamps straddle
      // the boundary (hard rule 4)
      val ev = tbl(s, dir, "events").where(col("user_id") < 40)
      def series(tpe: String) = ev.where(col("event_type") === tpe)
        .withColumn("stream", lit(tpe))
        .select("stream", "event_id", "ts", "user_id", "value")
      OrderedMerge.mergeSortedTied("ts", Seq("event_id"),
          series("click"), series("view"), series("purchase"))
        .limit(100)
    },
      """SELECT * FROM (
        |  SELECT event_type AS stream, event_id, ts, user_id, value
        |  FROM events
        |  WHERE user_id < 40 AND event_type IN ('click', 'view', 'purchase'))
        |ORDER BY ts, event_id LIMIT 100""".stripMargin),
    Gate("q82_rts_csv_parse", (s, dir) => {
      // the RTS archive parse (S4/F2/F5) under the oracle: the golden
      // fixture is written to scratch and both engines re-parse the
      // SAME bytes — Spark via the declarative csv reader +
      // try_cast/try_to_timestamp, DuckDB via read_csv + TRY_CAST +
      // try_strptime ('%g' = milliseconds, matching SSS). Valid AND
      // quarantined rows ship with their reject reasons; time is cast
      // NTZ so both engines compare the same wall-clock (UTC session).
      val path = graft.sources.RtsCsv.writeGoldenFixture()
      graft.sources.RtsCsv.parse(graft.sources.RtsCsv.readRaw(s, Seq(path)))
        .select(col("market"), col("security"),
          col("tradeId").as("trade_id"), col("price"),
          col("amount").cast("long").as("amount"),
          col("time").cast("timestamp_ntz").as("time"),
          col("nosystem"), col("reject_reason"))
    },
      // same bytes, DuckDB's own CSV reader and cast/strptime chain
      s"""WITH raw AS (
         |  SELECT * FROM read_csv('${sources.RtsCsv.scratchCsvDir}/*.csv',
         |    header = true, delim = ';', all_varchar = true)
         |  WHERE contract IS NOT NULL OR trade_id IS NOT NULL),
         |p AS (SELECT
         |  'RTS' AS market, contract AS security,
         |  TRY_CAST(trade_id AS BIGINT) AS trade_id,
         |  TRY_CAST(price AS DOUBLE) AS price,
         |  TRY_CAST(amount AS INT)::BIGINT AS amount,
         |  try_strptime(dat_time, '%Y-%m-%d %H:%M:%S.%g') AS "time",
         |  (Nosystem = '1') AS nosystem
         |  FROM raw)
         |SELECT market, security, trade_id, price, amount, "time", nosystem,
         |  CASE WHEN security IS NULL THEN 'missing security'
         |       WHEN trade_id IS NULL THEN 'bad trade_id'
         |       WHEN price IS NULL THEN 'bad price'
         |       WHEN amount IS NULL THEN 'bad amount'
         |       WHEN "time" IS NULL THEN 'bad dat_time' END AS reject_reason
         |FROM p""".stripMargin),
    Gate("q85_resample_ffill", (s, dir) => {
      // regular-grid RESAMPLING with forward fill — the TSDB
      // downsample/align operation (chart feeds, feature grids): per
      // user an hourly grid spanning their activity, each point
      // carrying the last event value at or before it. Composed from
      // existing pieces: grid explode (sequence) + AsOfJoin — resample
      // IS an as-of join against a generated axis. Right side
      // pre-deduped per (user, ts) with a max_by(event_id) winner
      // (hard rule 4, q29's rationale); grid points before a user's
      // first event carry nulls on both engines (ASOF LEFT JOIN).
      val ev = tbl(s, dir, "events").where(col("user_id") < 5)
      val dedup = ev.groupBy("user_id", "ts")
        .agg(max_by(col("value"), col("event_id")).as("value"))
      Resample.ffill(Resample.grid(ev, "user_id", "ts", "hour", "1 hour"),
          dedup, "user_id", "ts", "value")
        .select("user_id", "grid_ts", "src_ts", "value")
    },
      // same grid (generate_series is end-inclusive like sequence),
      // same pre-dedup, DuckDB's native ASOF LEFT JOIN as the fill
      """WITH e AS (SELECT user_id, ts, max_by(value, event_id) AS value
        |  FROM events WHERE user_id < 5 GROUP BY user_id, ts),
        |g AS (SELECT user_id,
        |    unnest(generate_series(date_trunc('hour', min(ts)), max(ts),
        |      INTERVAL 1 HOUR)) AS grid_ts
        |  FROM events WHERE user_id < 5 GROUP BY user_id)
        |SELECT g.user_id, g.grid_ts, e.ts AS src_ts, e.value
        |FROM g ASOF LEFT JOIN e
        |  ON g.user_id = e.user_id AND g.grid_ts >= e.ts""".stripMargin),
    Gate("q86_resample_lerp", (s, dir) => {
      // linear interpolation on the same grid: one backward + one
      // forward as-of, then a fixed per-row lerp over exact integer
      // micros — bit-equal across engines with NO rounding (ratio and
      // multiply-add are single deterministic double ops). Exactly-on-
      // a-point and one-sided grid points degrade to the neighbor.
      val ev = tbl(s, dir, "events").where(col("user_id") < 5)
      val dedup = ev.groupBy("user_id", "ts")
        .agg(max_by(col("value"), col("event_id")).as("value"))
      Resample.lerp(Resample.grid(ev, "user_id", "ts", "hour", "1 hour"),
          dedup, "user_id", "ts", "value")
        .select("user_id", "grid_ts", "prev_ts", "next_ts", "value")
    },
      // backward + forward ASOF, then the identical per-row lerp op
      // sequence over epoch micros — raw doubles, no rounding
      """WITH e AS (SELECT user_id, ts, max_by(value, event_id) AS value
        |  FROM events WHERE user_id < 5 GROUP BY user_id, ts),
        |g AS (SELECT user_id,
        |    unnest(generate_series(date_trunc('hour', min(ts)), max(ts),
        |      INTERVAL 1 HOUR)) AS grid_ts
        |  FROM events WHERE user_id < 5 GROUP BY user_id),
        |p AS (SELECT g.user_id, g.grid_ts, e.ts AS prev_ts, e.value AS prev_v
        |  FROM g ASOF LEFT JOIN e
        |    ON g.user_id = e.user_id AND g.grid_ts >= e.ts),
        |b AS (SELECT p.user_id, p.grid_ts, p.prev_ts, p.prev_v,
        |    e.ts AS next_ts, e.value AS next_v
        |  FROM p ASOF LEFT JOIN e
        |    ON p.user_id = e.user_id AND p.grid_ts <= e.ts)
        |SELECT user_id, grid_ts, prev_ts, next_ts,
        |  CASE WHEN prev_ts IS NULL THEN next_v
        |       WHEN next_ts IS NULL OR next_ts = prev_ts THEN prev_v
        |       ELSE prev_v + (next_v - prev_v) *
        |         ((epoch_us(grid_ts) - epoch_us(prev_ts))::DOUBLE
        |           / (epoch_us(next_ts) - epoch_us(prev_ts))::DOUBLE)
        |  END AS value
        |FROM b""".stripMargin),
    Gate("q87_twap", (s, dir) => {
      // TWAP per (user, day) — q31's sibling with TIME weights: each
      // observation weighted by how long it remained current (seconds
      // until the next event in the day; the day's last event carries
      // no weight). Exact arithmetic throughout: integer-cent value ×
      // integer-second duration sums (both associativity-free), ONE
      // double division sequence at the end — no rounding needed.
      // Whole-second truncation of the duration is deterministic on
      // both engines (floor of a positive integer division).
      val w = Window.partitionBy("user_id", "day")
        .orderBy(col("ts"), col("event_id"))
      val us = unix_micros(col("ts").cast("timestamp"))
      tbl(s, dir, "events")
        .withColumn("day", to_date(col("ts")))
        // integer `div`, NOT `/`: Spark's / on longs returns double
        .withColumn("dur_us", lead(us, 1).over(w) - us)
        .withColumn("dur_sec", expr("dur_us div 1000000"))
        .where(col("dur_sec").isNotNull)
        .groupBy("user_id", "day")
        .agg(
          (sum(scaledLong(col("value"), 2) * col("dur_sec")).cast("double")
            / sum(col("dur_sec")).cast("double") / lit(100.0)).as("twap"),
          sum(col("dur_sec")).as("active_sec"),
          count(lit(1)).as("n_weighted"))
    },
      // same window, same integer-second truncation, same fixed
      // division sequence over exact integer sums
      """WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day, value, ts, event_id,
        |    (lead(epoch_us(ts)) OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |       ORDER BY ts, event_id) - epoch_us(ts)) // 1000000 AS dur_sec
        |  FROM events)
        |SELECT user_id, day,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT) * dur_sec) AS DOUBLE)
        |    / CAST(sum(dur_sec) AS DOUBLE) / 100.0 AS twap,
        |  CAST(sum(dur_sec) AS BIGINT) AS active_sec,
        |  count(*)::BIGINT AS n_weighted
        |FROM d WHERE dur_sec IS NOT NULL
        |GROUP BY user_id, day""".stripMargin),
    Gate("q106_uid_decode", (s, dir) => {
      // the FULL UID lifecycle under one oracle (SURVEY §2 J2/A-row
      // upgrade): build a dictionary from half the corpus, extend it
      // with the rest (existing ids immutable, new ids dense after the
      // old max — the reference's no-renumber guarantee), encode the
      // facts, aggregate per uid, then REVERSE-decode the uid-only
      // aggregate back to names. Dict always broadcasts (tiny dim);
      // the fact side is never shuffled by the joins.
      val ev = tbl(s, dir, "events")
      val dict = UidDictionary.extend(
        UidDictionary.build(ev.where(pmod(col("user_id"), lit(2L)) === 0),
          "event_type"),
        ev.where(pmod(col("user_id"), lit(2L)) =!= 0), "event_type")
      val agg = UidDictionary.encode(ev, dict, "event_type", "uid")
        .groupBy("uid").agg(count(lit(1)).as("n"))
      UidDictionary.decode(agg, dict, "uid", "event_type_name")
        .select("uid", "event_type_name", "n")
    },
      // same two-phase allocation: row_number over sorted distinct
      // names (unique tiebreak by construction), fresh ids offset by
      // the base max, anti-join keeps base ids immutable; decode is a
      // left join back from the uid-only aggregate.
      """WITH base AS (SELECT DISTINCT event_type AS name FROM events
        |  WHERE user_id % 2 = 0),
        |d0 AS (SELECT name, row_number() OVER (ORDER BY name) AS uid FROM base),
        |mx AS (SELECT coalesce(max(uid), 0) AS m FROM d0),
        |fresh AS (SELECT name, row_number() OVER (ORDER BY name) + m AS uid
        |  FROM (SELECT DISTINCT event_type AS name FROM events
        |        WHERE user_id % 2 <> 0
        |          AND event_type NOT IN (SELECT name FROM base)), mx),
        |dict AS (SELECT name, uid FROM d0 UNION ALL SELECT name, uid FROM fresh),
        |agg AS (SELECT d.uid AS uid, count(*) AS n
        |  FROM events e JOIN dict d ON e.event_type = d.name
        |  GROUP BY d.uid)
        |SELECT a.uid, d.name AS event_type_name, a.n
        |FROM agg a LEFT JOIN dict d USING (uid)""".stripMargin),
    Gate("q108_realized_vol", (s, dir) => {
      // realized volatility per (user, day): sqrt of the sum of
      // squared log returns over consecutive observations (realized
      // variance, Andersen & Bollerslev 1998). ln is last-ulp noisy
      // across engines and the sum merges in partition order → round
      // the VARIANCE at 4 (rule 9); sqrt of the pinned sum is then
      // one deterministic IEEE op. One window exchange + map-side
      // partial agg; zero-value prints (6 rows at sf0.1) are dropped
      // before the log on both engines.
      val w = Window.partitionBy("user_id", "day")
        .orderBy(col("ts"), col("event_id"))
      tbl(s, dir, "events")
        .where(col("value") > 0)
        .withColumn("day", to_date(col("ts")))
        .withColumn("prev", lag("value", 1).over(w))
        .where(col("prev").isNotNull)
        .withColumn("r", log(col("value") / col("prev")))
        .groupBy("user_id", "day")
        .agg(count(lit(1)).as("n_ret"),
          round(sum(col("r") * col("r")), 4).as("realized_var"))
        .withColumn("realized_vol", sqrt(col("realized_var")))
    },
      // same lag window with the event_id tiebreak, same round-then-
      // sqrt sequence (the rounded variance pins the sqrt input)
      """WITH r AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |    ln(value / lag(value) OVER (
        |      PARTITION BY user_id, CAST(ts AS DATE)
        |      ORDER BY ts, event_id)) AS r
        |  FROM events WHERE value > 0)
        |SELECT user_id, day, count(*)::BIGINT AS n_ret,
        |  round(sum(r * r), 4) AS realized_var,
        |  sqrt(round(sum(r * r), 4)) AS realized_vol
        |FROM r WHERE r IS NOT NULL
        |GROUP BY user_id, day""".stripMargin),
    Gate("q109_max_drawdown", (s, dir) => {
      // maximum drawdown per user: running peak via cumulative-max
      // window, per-row drawdown = value/peak − 1 (exact parquet
      // doubles through one IEEE division — bit-identical on both
      // engines), max drawdown = min over those (order-free; no
      // rounding anywhere). One window exchange reused by the agg.
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tbl(s, dir, "events")
        .where(col("value") > 0)
        .withColumn("peak", max("value").over(w))
        .withColumn("dd", col("value") / col("peak") - lit(1.0))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_obs"), max("value").as("high"),
          min(col("dd")).as("max_drawdown"))
    },
      // same explicit ROWS frame for the running peak; the literal 1
      // is cast to DOUBLE (a bare 1.0 is DECIMAL in DuckDB)
      """WITH d AS (SELECT user_id, value,
        |    max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |  FROM events WHERE value > 0)
        |SELECT user_id, count(*)::BIGINT AS n_obs, max(value) AS high,
        |  min(value / peak - 1.0::DOUBLE) AS max_drawdown
        |FROM d GROUP BY user_id""".stripMargin),
    Gate("q111_price_trend", (s, dir) => {
      // per-user linear price drift: closed-form OLS over EXACT
      // integer sums — seconds since the corpus epoch × integer cents
      // keep every Σ a lossless long (nothing partition-order-noisy
      // to round away); each long converts to double once
      // (deterministic nearest) and slope/intercept fall out of a
      // fixed single-op IEEE sequence, identical on both engines.
      // One hash aggregate with map-side partials, no window. At
      // multi-year spans re-origin x per key before summing (the
      // bound that keeps Σx² a lossless long is span²·rows < 2^63).
      val x = expr("unix_micros(cast(ts as timestamp)) div 1000000") -
        lit(1704067200L) // 2024-01-01, the corpus epoch
      tbl(s, dir, "events")
        .select(col("user_id"), x.as("x"), scaledLong(col("value"), 2).as("y"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"))
        .where(col("n") >= 2)
        .withColumn("slope_cents_per_sec",
          (col("n").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double"))
          / (col("n").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double")))
        .withColumn("intercept_cents",
          (col("sy").cast("double")
            - col("slope_cents_per_sec") * col("sx").cast("double"))
            / col("n").cast("double"))
        .select("user_id", "n", "slope_cents_per_sec", "intercept_cents")
    },
      // same exact-integer sums (BIGINT-cast from HUGEINT — rule 5),
      // same double-conversion points and operation order; the slope
      // expression is repeated inside the intercept exactly as the
      // Spark plan inlines it.
      """WITH b AS (SELECT user_id,
        |    epoch_us(ts) // 1000000 - 1704067200 AS x,
        |    CAST(round(value * 100) AS BIGINT) AS y
        |  FROM events),
        |a AS (SELECT user_id, count(*)::BIGINT AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM b GROUP BY user_id HAVING count(*) >= 2)
        |SELECT user_id, n,
        |  (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |    / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
        |    AS slope_cents_per_sec,
        |  (sy::DOUBLE - ((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |    / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE))
        |    * sx::DOUBLE) / n::DOUBLE AS intercept_cents
        |FROM a""".stripMargin),
    Gate("q116_ewma_scan", (s, dir) => {
      // Per-user EWMA y_i = 0.2 x_i + 0.8 y_(i-1) via the two-phase
      // parallel affine scan (Scan.linearRecurrence) — the distributed
      // re-expression of a sequential fold (NO single-partition
      // window). Seam composition re-associates double math at the
      // ulp level, so output is rounded per hard rule 9: values are
      // <= ~500 with composition noise ~1e-11 abs; d=4 puts the round
      // boundary (5e-5) ~5e6x above it. Oracle replays the fold
      // per-row with list_reduce over the rn-prefix.
      Scan.linearRecurrence(tbl(s, dir, "events"), "user_id",
          Seq(("ts", true), ("event_id", true)), "value", a = 0.2, b = 0.8)
        .select(col("user_id"), col("event_id"),
          round(col("y"), 4).as("ewma"))
    },
      // EWMA replayed per-row: the rn-prefix of the per-user value list
      // folded left with the same (0.2*x + 0.8*acc) op order Spark's
      // scan uses; round(4) on both sides absorbs seam-composition ulps
      """WITH ord AS (SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |lists AS (SELECT user_id, list(value ORDER BY rn) AS xs
        |  FROM ord GROUP BY user_id)
        |SELECT o.user_id, o.event_id,
        |  round(list_reduce(list_prepend(0.0, list_slice(l.xs, 1, o.rn)),
        |    (acc, x) -> 0.2*x + 0.8*acc), 4) AS ewma
        |FROM ord o JOIN lists l USING (user_id)""".stripMargin),
    Gate("q117_cumsum_scan", (s, dir) => {
      // GLOBAL running total (ONE logical sequence — no partition key
      // to hide behind) through the same parallel scan with a constant
      // key: range partitioning preserves global order, per-partition
      // carries compose on the driver, so the 100 TB shape is two
      // linear passes instead of a single-task window. Exact, no
      // rounding: cents are integers (< 2^53 summed) under a = b = 1,
      // and the final /100.0 is one deterministic IEEE op per row on
      // an exact integer — identical bits on both engines.
      tbl(s, dir, "events")
        .withColumn("g", lit(1))
        .withColumn("cents", round(col("value") * 100, 0))
        .transform(df => Scan.linearRecurrence(df, "g",
          Seq(("ts", true), ("event_id", true)), "cents", a = 1.0, b = 1.0))
        .select(col("event_id"), (col("y") / 100.0).as("cum_value"))
    },
      // exact integer-cent running total: any summation order is exact,
      // so the windowed sum (segment tree) equals the scan's composed
      // carries bit-for-bit; /100.0 is one IEEE op on an exact integer
      """SELECT event_id,
        |  sum(round(value * 100)) OVER (ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0 AS cum_value
        |FROM events""".stripMargin),
    Gate("q120_rolling_median", (s, dir) => {
      // Exact trailing-25-row median over integer cents: the type-7
      // position 0.5*(n-1) is dyadic for n <= 25, so interpolation
      // lands on .0/.5 exactly — both engines produce the identical
      // double, no rounding (hard rule 9's exact-arithmetic variant).
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-24, Window.currentRow)
      tbl(s, dir, "events")
        .withColumn("cents", round(col("value") * 100, 0))
        .select(col("user_id"), col("event_id"),
          (percentile(col("cents"), lit(0.5)).over(w) / 100.0).as("med"))
    },
      // exact dyadic-position median over integer cents (n <= 25 ->
      // type-7 interpolation lands on .0/.5 exactly on both engines)
      """SELECT user_id, event_id,
        |  quantile_cont(round(value * 100), 0.5) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 24 PRECEDING AND CURRENT ROW) / 100.0 AS med
        |FROM events""".stripMargin),
    Gate("q129_asof_tolerance", (s, dir) => {
      // q29's as-of enrichment with a 1-hour staleness bound
      // (merge_asof tolerance semantics): a click older than an hour
      // is nulled on the SAME matched row, never replaced by an even
      // older one. Freshness compares exact integer micros.
      val ev = tbl(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .groupBy("user_id", "ts")
        .agg(max_by(col("value"), col("event_id")).as("value"))
      AsOfJoin.asOfWithin(
          left = ev.where(col("event_type") === "purchase"),
          right = clicks,
          keyCols = Seq("user_id"),
          leftTime = "ts", rightTime = "ts",
          rightVals = Seq("ts" -> "last_click_ts", "value" -> "last_click_value"),
          tolUs = 3600L * 1000000L)
        .select("event_id", "user_id", "ts", "value",
          "last_click_ts", "last_click_value")
    },
      // ASOF with a staleness bound: the CASE guards null out matches
      // older than 1 h on the SAME matched row (exact micros compare)
      """WITH c AS (SELECT user_id, ts, max_by(value, event_id) AS value
        |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
        |SELECT p.event_id, p.user_id, p.ts, p.value,
        |  CASE WHEN c.ts >= p.ts - INTERVAL 1 HOUR THEN c.ts END AS last_click_ts,
        |  CASE WHEN c.ts >= p.ts - INTERVAL 1 HOUR THEN c.value END AS last_click_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin),
    Gate("q155_asof_nearest", (s, dir) => {
      // NEAREST as-of (merge_asof direction='nearest'), completing
      // the family (backward q29, forward q61, tolerance q129): each
      // purchase takes whichever click is closer in time — backward
      // on exact ties. Distance compares are exact integer micros;
      // the oracle re-derives it from one backward + one forward
      // DuckDB ASOF join with the identical CASE.
      val ev = tbl(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .groupBy("user_id", "ts")
        .agg(max_by(col("value"), col("event_id")).as("value"))
      AsOfJoin.asOfNearest(
          left = ev.where(col("event_type") === "purchase"),
          right = clicks,
          keyCols = Seq("user_id"), leftTime = "ts", rightTime = "ts",
          rightVals = Seq("ts" -> "nearest_click_ts",
            "value" -> "nearest_click_value"))
        .select(col("event_id"), col("user_id"), col("ts"), col("value"),
          col("nearest_click_ts"), col("nearest_click_value"))
    },
      """WITH c AS (SELECT user_id, ts, max_by(value, event_id) AS value
        |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
        |p AS (SELECT * FROM events WHERE event_type = 'purchase'),
        |b AS (SELECT p.event_id, p.user_id, p.ts, p.value,
        |    c.ts AS bt, c.value AS bv
        |  FROM p ASOF LEFT JOIN c
        |    ON p.user_id = c.user_id AND p.ts >= c.ts),
        |f AS (SELECT p.event_id, c.ts AS ft, c.value AS fv
        |  FROM p ASOF LEFT JOIN c
        |    ON p.user_id = c.user_id AND p.ts <= c.ts)
        |SELECT b.event_id, b.user_id, b.ts, b.value,
        |  CASE WHEN ft IS NULL OR (bt IS NOT NULL AND
        |      epoch_us(b.ts) - epoch_us(bt) <= epoch_us(ft) - epoch_us(b.ts))
        |    THEN bt ELSE ft END AS nearest_click_ts,
        |  CASE WHEN ft IS NULL OR (bt IS NOT NULL AND
        |      epoch_us(b.ts) - epoch_us(bt) <= epoch_us(ft) - epoch_us(b.ts))
        |    THEN bv ELSE fv END AS nearest_click_value
        |FROM b JOIN f ON b.event_id = f.event_id""".stripMargin),
    Gate("q201_rolling_corr", (s, dir) => {
      // EXACT rolling correlation — Pearson over a trailing 7-day
      // window of the daily click/purchase cent sums, computed from
      // INTEGER MOMENTS (n, Σx, Σy, Σx², Σy², Σxy as exact longs):
      // the one float expression is the final
      // (n·Σxy − ΣxΣy) / (√(n·Σx²−Σx²̂)·√(n·Σy²−Σy²̂)) — identical
      // integer inputs on both engines, and sqrt/division are
      // correctly-rounded IEEE ops, so NO rounding contract is needed
      // (contrast rule 9: corr() over raw doubles is partial-order-
      // sensitive and needs one). Overflow headroom: daily cent sums
      // ~1e8 at sf0.1, moments ≤1e18 < 2^63; at true corpus scale the
      // window is per-key (per instrument), which keeps the daily
      // sums in the same band — documented bound, not a silent cap.
      // Full windows only (rn ≥ 7); zero-variance windows drop on
      // both engines by the same integer predicate.
      val daily = tbl(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(
          sum(when(col("event_type") === "click",
            scaledLong(col("value"), 2)).otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase",
            scaledLong(col("value"), 2)).otherwise(0L)).as("y"))
      val win = Window.orderBy("day").rowsBetween(-6, 0)
      val ord = Window.orderBy("day")
      val m = daily.select(col("day"),
        count(lit(1)).over(win).as("n"),
        sum(col("x")).over(win).as("sx"),
        sum(col("y")).over(win).as("sy"),
        sum(col("x") * col("x")).over(win).as("sxx"),
        sum(col("y") * col("y")).over(win).as("syy"),
        sum(col("x") * col("y")).over(win).as("sxy"),
        row_number().over(ord).as("rn"))
      m.where(col("rn") >= 7 &&
          (col("n") * col("sxx") - col("sx") * col("sx")) > 0 &&
          (col("n") * col("syy") - col("sy") * col("sy")) > 0)
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                .cast("double"))
              * sqrt((col("n") * col("syy") - col("sy") * col("sy"))
                .cast("double")))).as("corr"))
    },
      // Pearson from exact integer moments: the only float ops are one
      // division and two correctly-rounded sqrts on identical integer
      // inputs — no rounding contract (contrast corr() over doubles)
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
        |    sum(CASE WHEN event_type = 'click'
        |      THEN round(value * 100, 0)::BIGINT ELSE 0 END)::BIGINT AS x,
        |    sum(CASE WHEN event_type = 'purchase'
        |      THEN round(value * 100, 0)::BIGINT ELSE 0 END)::BIGINT AS y
        |  FROM events GROUP BY 1),
        |w AS (SELECT day,
        |    (count(*) OVER win)::BIGINT AS n,
        |    (sum(x) OVER win)::BIGINT AS sx, (sum(y) OVER win)::BIGINT AS sy,
        |    (sum(x * x) OVER win)::BIGINT AS sxx,
        |    (sum(y * y) OVER win)::BIGINT AS syy,
        |    (sum(x * y) OVER win)::BIGINT AS sxy,
        |    row_number() OVER (ORDER BY day) AS rn
        |  FROM d
        |  WINDOW win AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT strftime(day, '%Y-%m-%d') AS day,
        |  (n * sxy - sx * sy)::DOUBLE
        |    / (sqrt((n * sxx - sx * sx)::DOUBLE)
        |       * sqrt((n * syy - sy * sy)::DOUBLE)) AS corr
        |FROM w WHERE rn >= 7
        |  AND (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0""".stripMargin),
    Gate("q202_anomaly_days", (s, dir) => {
      // ANOMALY FLAGS WITH ZERO FLOATS: a day is anomalous when its
      // cent sum deviates from the trailing-14-day mean by more than
      // 3σ — and the 3σ test folds into PURE INTEGER algebra:
      // (x − Σx/n)² > 9·(n·Σx² − Σx²̂)/n²  ⇔  (n·x − Σx)² > 9·(n·Σx² − Σx²̂).
      // Exact long moments (the q201 discipline), one integer
      // comparison, no epsilon, no rounding contract, bit-identical
      // on any engine — monitoring thresholds that cannot drift.
      // Window excludes the current day (13 preceding .. 1 preceding)
      // so a spike does not mask itself.
      val daily = tbl(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(scaledLong(col("value"), 2)).as("x"))
      val win = Window.orderBy("day").rowsBetween(-13, -1)
      val ord = Window.orderBy("day")
      daily.select(col("day"), col("x"),
          count(lit(1)).over(win).as("n"),
          sum(col("x")).over(win).as("sx"),
          sum(col("x") * col("x")).over(win).as("sxx"),
          row_number().over(ord).as("rn"))
        .where(col("rn") >= 14)
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("x").as("cents"),
          ((col("n") * col("x") - col("sx"))
            * (col("n") * col("x") - col("sx")) >
            lit(9L) * (col("n") * col("sxx") - col("sx") * col("sx")))
            .as("is_anomaly"))
    },
      // the 3-sigma test folded into pure integer algebra — zero floats
      // anywhere in the query
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
        |    sum(round(value * 100, 0)::BIGINT)::BIGINT AS x
        |  FROM events GROUP BY 1),
        |w AS (SELECT day, x,
        |    (count(*) OVER win)::BIGINT AS n,
        |    (sum(x) OVER win)::BIGINT AS sx,
        |    (sum(x * x) OVER win)::BIGINT AS sxx,
        |    row_number() OVER (ORDER BY day) AS rn
        |  FROM d
        |  WINDOW win AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND 1 PRECEDING))
        |SELECT strftime(day, '%Y-%m-%d') AS day, x AS cents,
        |  (n * x - sx) * (n * x - sx) > 9 * (n * sxx - sx * sx) AS is_anomaly
        |FROM w WHERE rn >= 14""".stripMargin),
    Gate("q216_trend_fit", (s, dir) => {
      // PER-SERIES OLS TREND from INTEGER MOMENTS (the q201
      // discipline): daily purchase cent sums per user regressed on
      // the day index; n, Σx, Σy, Σxx, Σxy are exact longs, slope is
      // ONE division of exact ints and intercept is the identical
      // 3-op IEEE sequence on both engines — no rounding contract
      // needed. Degenerate series (one distinct day) drop by the same
      // integer predicate. 100 TB: one (user, day) aggregate + one
      // per-user moment aggregate, both partial-aggregated map-side.
      olsFitFromDaily(tbl(s, dir, "events")
        .where(col("event_type") === "purchase")
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(sum(scaledLong(col("value"), 2)).as("y")))
    },
      // slope is one division of exact integer moments; intercept is
      // the IDENTICAL 3-op IEEE sequence on both engines — no rounding
      trendFitSql),
    Gate("q217_cusum", (s, dir) => {
      // CUSUM CHANGEPOINT SCORE, all-integer: per user the maximum
      // deviation of the running cent-sum from the straight line to
      // the total — D = max_k |n·S_k − k·S_n| — is exact long math
      // (no division inside the max, so no float boundary can move
      // the argmax); the changepoint day is the earliest maximizer
      // (hard rule 4 tiebreak). The per-user window runs over DAILY
      // rows (series-length-bounded), never raw events. */
      val daily = tbl(s, dir, "events")
        .where(col("event_type") === "click")
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(sum(scaledLong(col("value"), 2)).as("y"))
      val ord = Window.partitionBy("user_id").orderBy("day")
      val all = Window.partitionBy("user_id")
      val dev = daily.select(col("user_id"), col("day"),
          row_number().over(ord).cast("long").as("k"),
          sum(col("y")).over(
            ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("sk"),
          count(lit(1)).over(all).as("n"),
          sum(col("y")).over(all).as("sn"))
        .withColumn("dev", abs(col("n") * col("sk") - col("k") * col("sn")))
      val pick = Window.partitionBy("user_id")
        .orderBy(col("dev").desc, col("day"))
      dev.withColumn("rn", row_number().over(pick))
        .where(col("rn") === 1 && col("n") >= 2)
        .select(col("user_id"), col("n").cast("long").as("n_days"),
          date_format(col("day"), "yyyy-MM-dd").as("cp_day"),
          col("dev").cast("long").as("d_stat"))
    },
      // the max runs over exact integers (no division inside), so the
      // argmax day is engine-independent; earliest-day tiebreak
      """WITH daily AS (SELECT user_id, ts::DATE AS day,
        |    sum(round(value * 100))::BIGINT AS y
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |d AS (SELECT user_id, day,
        |    row_number() OVER (PARTITION BY user_id ORDER BY day)::BIGINT AS k,
        |    sum(y) OVER (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS sk,
        |    count(*) OVER (PARTITION BY user_id)::BIGINT AS n,
        |    sum(y) OVER (PARTITION BY user_id)::BIGINT AS sn
        |  FROM daily),
        |dev AS (SELECT user_id, day, n,
        |    abs(n * sk - k * sn)::BIGINT AS dev FROM d)
        |SELECT user_id, n AS n_days,
        |  strftime(day, '%Y-%m-%d') AS cp_day, dev AS d_stat
        |FROM (SELECT *, row_number() OVER (
        |    PARTITION BY user_id ORDER BY dev DESC, day) AS rn FROM dev)
        |WHERE rn = 1 AND n >= 2""".stripMargin),
    Gate("q222_rolling_distinct", (s, dir) => {
      // ROLLING 7-DAY DISTINCT USERS from DAILY HLL STATES — the
      // production rolling-MAU pattern: one pass sketches each day's
      // users into a 512-register vector; every trailing window is
      // then answered by MERGING ≤7 stored states (register max is
      // associative + idempotent, so the merged estimate is
      // bit-identical to sketching the raw window — the q176
      // guarantee, applied per sliding window). Raw events are read
      // ONCE; the window fan-out is O(days × 7 × 512 B) states. An
      // exact rolling distinct would re-scan ~7× the corpus (distinct
      // doesn't decompose); the sketch table is what makes the daily
      // report affordable at 100 TB.
      val daily = tbl(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(graft.expressions.HllSketch.registers(
          col("user_id").cast("string"), p = 9).as("sk"))
      val days = daily.select(col("day").as("d"))
      days.join(daily,
          col("day").between(date_sub(col("d"), 6), col("d")))
        .groupBy(col("d"))
        .agg(count(lit(1)).cast("long").as("n_days"),
          round(graft.expressions.HllSketch.mergeRegisters(
            col("sk"), p = 9), 4).as("rolling_mau"))
        .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
          col("n_days"), col("rolling_mau"))
    },
      // q133's register rebuild, merged per TRAILING 7-day window —
      // register max is associative/idempotent, so the windowed merge
      // equals sketching the raw window directly
      rollingMauSql),
    Gate("q223_rolling_p95", (s, dir) => {
      // ROLLING 7-DAY p95 from DAILY DDSketch STATES — q222's play
      // for percentiles (rolling latency/size SLO reporting): one
      // pass histograms each day's values, every trailing window is
      // answered by merging ≤7 stored bucket histograms (count
      // addition is exact and order-free, so the merged sketch IS
      // the sketch of the raw window, and the estimate is a pure
      // function of the window multiset — the q130 contract per
      // sliding window). Raw events read once; window fan-out is
      // O(days × 7 × occupied buckets).
      val bounds = graft.expressions.DdSketch.boundaries(0.01, 1.0, 2e5)
      val qs = Array(0.95)
      val daily = tbl(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(graft.expressions.DdSketchState.state(
          col("value"), bounds).as("sk"))
      val days = daily.select(col("day").as("d"))
      days.join(daily,
          col("day").between(date_sub(col("d"), 6), col("d")))
        .groupBy(col("d"))
        .agg(count(lit(1)).cast("long").as("n_days"),
          graft.expressions.DdSketchState.mergeStates(
            col("sk"), bounds, qs).as("ests"))
        .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
          col("n_days"), element_at(col("ests"), 1).as("p95"))
    },
      // the merged-window DDSketch answer is the bucket of the window's
      // rank-⌈qn⌉ element (the q130 contract, per sliding window)
      {
      val bounds = graft.expressions.DdSketch.boundaries(0.01, 1.0, 2e5)
      val bl = graft.expressions.DdSketch.sqlList(bounds)
      val nb = bounds.length
      s"""WITH vals AS (SELECT ts::DATE AS day, value AS x FROM events),
         |days AS (SELECT DISTINCT day FROM vals),
         |w AS MATERIALIZED (SELECT d.day, v.x
         |  FROM days d JOIN vals v ON v.day BETWEEN d.day - 6 AND d.day),
         |n AS (SELECT day, count(*) AS n FROM w GROUP BY 1),
         |nd AS (SELECT d.day, count(*)::BIGINT AS n_days
         |  FROM days d JOIN days m ON m.day BETWEEN d.day - 6 AND d.day
         |  GROUP BY 1),
         |rk AS (SELECT day, greatest(1, CAST(ceil(0.95 * n) AS BIGINT)) AS r
         |  FROM n),
         |ord AS (SELECT day, x,
         |    row_number() OVER (PARTITION BY day ORDER BY x) AS rn FROM w),
         |xr AS (SELECT rk.day, ord.x
         |  FROM rk JOIN ord ON ord.day = rk.day AND ord.rn = rk.r),
         |bl AS (SELECT $bl::DOUBLE[] AS bs),
         |idx AS (SELECT day, len(list_filter(bs, b -> b <= x)) AS i
         |  FROM xr CROSS JOIN bl)
         |SELECT strftime(idx.day, '%Y-%m-%d') AS day, nd.n_days,
         |  CASE WHEN i <= 0 THEN bs[1]
         |       WHEN i >= $nb THEN bs[$nb]
         |       ELSE 2.0 * bs[i] * bs[i + 1] / (bs[i] + bs[i + 1]) END AS p95
         |FROM idx CROSS JOIN bl JOIN nd ON nd.day = idx.day""".stripMargin
    }),
    Gate("q244_ewma", (s, dir) => {
      // EWMA SMOOTHING per (user, day) — the classic recursive
      // time-series filter s_i = (1-α)·s_{i-1} + α·x_i, which no
      // distributive aggregate expresses: the fold is ORDER-EXACT, so
      // the engine sorts each group's bounded event list once
      // (sort_array over (ts, event_id, cents) — unique tiebreak,
      // hard rule 4) and replays the recursion as ONE IEEE fold.
      // α = 0.25 and the cents inputs are exactly representable, and
      // DuckDB's list_reduce replays the IDENTICAL operation sequence
      // (the list_prepend-seed trick, CLAUDE.md rule 11) — so both
      // engines agree BIT-FOR-BIT with no rounding contract at all.
      // 100 TB shape: one hash shuffle on (user, day); per-group
      // state is the day's bounded event list, never a global sort.
      val evs = tbl(s, dir, "events")
        .select(col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"),
          struct(col("ts"), col("event_id"),
            round(col("value") * 100).as("cents")).as("e"))
        .groupBy("user_id", "day")
        .agg(sort_array(collect_list(col("e"))).as("xs"))
      evs.select(col("user_id"), col("day"),
          size(col("xs")).cast("long").as("n"),
          aggregate(col("xs"), lit(0.0),
            (acc, x) => acc * lit(0.75) + x.getField("cents") * lit(0.25))
            .as("ewma_cents"))
        .where(col("n") >= 3)
    },
      // q244: the identical IEEE fold replayed by list_reduce over the
      // identically-ordered list (unique (ts, event_id) tiebreak) — the
      // operands and operation order match bit-for-bit, so NO rounding
      // contract is needed; λ literals cast ::DOUBLE per rule 11
      """WITH e AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
        |    list(round(value * 100) ORDER BY ts, event_id) AS xs
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, day, len(xs)::BIGINT AS n,
        |  list_reduce(list_prepend(0.0::DOUBLE, xs),
        |    (a, x) -> a * 0.75::DOUBLE + x * 0.25::DOUBLE) AS ewma_cents
        |FROM e WHERE len(xs) >= 3""".stripMargin)
  )
}
