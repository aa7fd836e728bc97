package graft.queries

import graft.core.Lake
import graft.functions.Scale
import graft.medallion.Medallion
import graft.medallion.Medallion.CleaningRule
import graft.multimodal.Media
import graft.streaming.EventStreams
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pipeline-level operators: multimodal decode plumbing, gap
  * sessionization, the full bronze→silver→gold medallion round-trip, and
  * a Structured Streaming windowed aggregation — each driver-checkable
  * against a DuckDB oracle.
  */
object PipelineOps {

  private def lake(s: SparkSession, dir: String) = Lake(s, dir)

  /** Repo-local scratch root (never outside the repo tree). */
  private def scratch(tag: String, dir: String): String = {
    val safe = dir.replaceAll("[^A-Za-z0-9.]", "_")
    new java.io.File(s"target/tmp/${tag}_$safe").getAbsolutePath
  }

  /** Fixture appends of ORDER-FREE slices overlapped 3-at-a-time (guide
    * §2.6): each append stages its own files in parallel while the
    * tx-log serializes the commits — losers of the version race re-run
    * only the atomic hard-link publish, never the staging. Only for
    * fixtures whose declared output is independent of which VERSION a
    * slice landed in (plain pre-property appends; never time-travel /
    * CDF-window / row-tracking builds, where version identity is the
    * point). Failures propagate via Await. */
  private def appendSlices(t: graft.medallion.GraftTable,
      slices: Seq[DataFrame]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(3, math.max(1, slices.size)))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(slices.map(d =>
          scala.concurrent.Future { t.append(d); () })),
        scala.concurrent.duration.Duration.Inf)
      ()
    } finally pool.shutdown()
  }

  // --------------------------------------------------------------------
  // q42 — multimodal metadata decode: documents → synthesized
  // container-valid binary payloads (PNG/WAV/JPEG, header fields derived
  // from the md5 hash of the body) → typed Dataset → mapPartitions batch
  // decode parsing REAL magic bytes + headers (graft.multimodal.Media) →
  // flattened metadata. Narrow, scan-parallel, no shuffle. The oracle
  // reproduces every parsed field arithmetically. PNG payloads are REAL
  // images (round 12): the text bytes are the pixel plane, rectangle =
  // largest of {4,3,2,1} dividing the length × the quotient, and the
  // IDAT is a stored-block zlib stream — so width/height are the true
  // raster dimensions and byte_len = 57 container + 6 zlib framing +
  // (L + rows) filtered bytes + 5 per stored block, all predictable.
  // WAV 44 + body as before. JPEG payloads are REAL baseline images
  // (round 13): each text byte a constant 8×8 tile in the same
  // rectangle as the PNG path, so width = 8·(L/rows), height = 8·rows
  // from the true SOF0 header, and byte_len = 148 header/tables + 2
  // entropy bytes per block (the tile Huffman profile packs every
  // block into exactly 16 stuffing-free bits). Sample-rate/channels
  // from the md5-derived formulas the writer embeds — a hash match
  // proves the write→sniff→parse round trip, not just the arithmetic.
  // --------------------------------------------------------------------
  def q42MultimodalMeta(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    Media.decodeMeta(lake(s, dir).documents).toDF().orderBy(col("doc_id"))
  }

  private val q42Oracle =
    """SELECT doc_id,
              CAST(CASE m
                   WHEN 0 THEN 63 + (L + hh) + 5 * ((L + hh + 65534) // 65535)
                   WHEN 1 THEN 44 + L ELSE 148 + 2 * L END AS INTEGER) AS byte_len,
              CASE m WHEN 0 THEN 'png' WHEN 1 THEN 'wav' ELSE 'jpeg' END AS container,
              CASE WHEN m = 0 THEN CAST(L // hh AS INTEGER)
                   WHEN m = 2 THEN CAST(8 * (L // hh) AS INTEGER) END AS width,
              CASE WHEN m = 0 THEN CAST(hh AS INTEGER)
                   WHEN m = 2 THEN CAST(8 * hh AS INTEGER)
                   END AS height,
              CASE WHEN m = 1
                   THEN CAST(list_value(8000, 16000, 22050, 44100, 48000)[
                          CAST(h % 5 AS INTEGER) + 1] AS INTEGER) END AS sample_rate,
              CASE WHEN m = 1 THEN CAST(1 AS INTEGER) END AS channels,
              CASE m WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                   ELSE 'video' END AS fmt
       FROM (SELECT *,
                    CASE WHEN L % 4 = 0 THEN 4 WHEN L % 3 = 0 THEN 3
                         WHEN L % 2 = 0 THEN 2 ELSE 1 END AS hh
             FROM (SELECT *, CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS h,
                          CAST(substr(source, 4) AS INTEGER) % 3 AS m,
                          strlen(text) AS L
                   FROM documents))
       ORDER BY doc_id"""

  // --------------------------------------------------------------------
  // q43 — gap-based sessionization (30-min inactivity gap), the SQL/window
  // twin of EventStreams.sessionize: lag → new-session flag → running sum
  // → per-session aggregate. Both windows are PARTITIONED by user_id —
  // parallel per user at any scale. Gap compare is floor-second
  // (unix_timestamp truncation ≡ DuckDB date_diff('second')).
  // --------------------------------------------------------------------
  def q43Sessionize(s: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lake(s, dir).events
      .withColumn("prev_ts", lag(col("ts"), 1).over(wOrd))
      .withColumn("new_sess",
        when(col("prev_ts").isNull
          || unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_sess")).over(wRun))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("start_ts"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("end_ts"),
        Det.dsum(col("value")).as("sum_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  private val q43Oracle =
    """WITH flagged AS (
         SELECT user_id, ts, event_id, value,
                CASE WHEN lag(ts) OVER w IS NULL
                       OR date_diff('second', lag(ts) OVER w, ts) > 1800
                     THEN 1 ELSE 0 END AS new_sess
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       sess AS (
         SELECT user_id, ts, value,
                CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         FROM flagged)
       SELECT user_id, session_id, count(*) AS n_events,
              strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS start_ts,
              strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS end_ts,
              CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       FROM sess GROUP BY user_id, session_id
       ORDER BY user_id, session_id"""

  // --------------------------------------------------------------------
  // q44 — medallion end-to-end: orders → bronze CDC-envelope JSON lines
  // (ingest-date partitioned) → silver (explicit-schema parse, flatten,
  // trim, dedup, null-drop, processed_date) → gold customer summary
  // (agg + tier bucketing), all through real file round-trips under
  // target/tmp. Injected clock keeps every layer deterministic. The
  // oracle computes the same summary straight from the source table —
  // proving the lake round-trip is lossless (doubles survive JSON via
  // shortest-round-trip representation).
  // --------------------------------------------------------------------
  private val ordersSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", DateType)))

  def q44MedallionE2e(s: SparkSession, dir: String): DataFrame = {
    val clock = "2026-01-15 12:00:00"
    val root = scratch("medallion", dir)
    // repartition: source is one parquet file = one input partition;
    // spreading it parallelizes the JSON encode + write and the
    // downstream silver parse.
    val src = lake(s, dir).orders.select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"))
      .transform(Scale.spread(_, col("o_orderkey"))) // scale-adaptive (r17)

    val bronzePath = Medallion.writeBronze(src, "orders", clock, root)
    val flat = Medallion.readBronze(s, bronzePath, ordersSchema)
    val silver = Medallion.toSilver(flat,
      CleaningRule(
        dedupKeys = Seq("o_orderkey"),
        requiredCols = Seq("o_orderkey", "o_custkey", "o_totalprice"),
        trimCols = Seq("o_orderstatus")),
      clock)
    val silverPath = Medallion.writeSilver(silver, "orders", root)

    val gold = s.read.parquet(silverPath)
      .groupBy(col("o_custkey"))
      .agg(
        count(lit(1)).as("n_orders"),
        Det.dsum(col("o_totalprice")).as("total_spent"),
        Det.davg(col("o_totalprice")).as("avg_order"),
        date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("last_order_date"))
      .withColumn("tier",
        when(col("total_spent") > 1500000, "Premium")
          .when(col("total_spent") > 700000, "Gold")
          .when(col("total_spent") > 200000, "Silver")
          .otherwise("Bronze"))
    val goldPath = Medallion.writeGold(gold, "customer_summary", root)
    s.read.parquet(goldPath).orderBy(col("o_custkey"))
  }

  private val q44Oracle =
    """SELECT o_custkey, count(*) AS n_orders,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_order,
              strftime(max(o_orderdate), '%Y-%m-%d') AS last_order_date,
              CASE WHEN CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) > 1500000 THEN 'Premium'
                   WHEN CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) > 700000 THEN 'Gold'
                   WHEN CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) > 200000 THEN 'Silver'
                   ELSE 'Bronze' END AS tier
       FROM orders GROUP BY o_custkey ORDER BY o_custkey"""

  // --------------------------------------------------------------------
  // q45 — Structured Streaming event-time tumbling window: bounded
  // file-source replay (Trigger.AvailableNow) → watermark → hourly
  // windowed aggregate → memory sink. The oracle is the batch SQL over
  // the same events — streaming and batch agree exactly.
  // --------------------------------------------------------------------
  def q45StreamingHourly(s: SparkSession, dir: String): DataFrame = {
    // sanitized dir, not hashCode: hashes collide across dirs (silently
    // sharing a sink in one session) and abs(Int.MinValue) stays
    // negative, making an unparseable table identifier
    val sink = s"q45_hourly_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    EventStreams.hourlyEventCounts(s, dir, sink)
      .orderBy(col("hour_ts"), col("event_type"))
  }

  private val q45Oracle =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts,
              event_type, count(*) AS n_events,
              CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       FROM events GROUP BY 1, 2 ORDER BY hour_ts, event_type"""

  // --------------------------------------------------------------------
  // q59 — NATIVE session windows (session_window, the built-in gap-merge
  // operator; also valid in Structured Streaming with a watermark).
  // Semantics differ from q43's lag construction at the exact boundary:
  // session_window merges while gap < 30 min STRICTLY (splits at ≥, full
  // microsecond precision); the oracle mirrors that rule. Session end =
  // last event + gap by definition.
  // --------------------------------------------------------------------
  def q59SessionWindow(s: SparkSession, dir: String): DataFrame =
    Lake(s, dir).events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(
        count(lit(1)).as("n_events"),
        Det.dsum(col("value")).as("sum_value"))
      .select(
        col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
        date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_end"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))

  private val q59Oracle =
    """WITH flagged AS (
         SELECT user_id, ts, event_id, value,
                CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS new_sess
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       sess AS (
         SELECT user_id, ts, value,
                sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         FROM flagged)
       SELECT user_id,
              strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
              strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
              count(*) AS n_events,
              CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       FROM sess GROUP BY user_id, sid
       ORDER BY user_id, session_start"""

  // --------------------------------------------------------------------
  // q64 — stream-static join: the streaming event feed enriched against
  // a static dimension (customer) before aggregating — the standard
  // lookup-enrichment shape (static side broadcast per micro-batch, no
  // stream-side state). Bounded replay + memory sink as in q45; oracle is
  // the batch equivalent.
  // --------------------------------------------------------------------
  def q64StreamStaticJoin(s: SparkSession, dir: String): DataFrame = {
    val sink = s"q64_enriched_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    val dim = Lake(s, dir).customer
      .select(col("c_custkey"), col("c_mktsegment"))
    EventStreams.runToMemorySink(
      EventStreams.readEvents(s, dir)
        .join(dim, col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          Det.dsum(col("value")).as("sum_value")),
      sink)
      .orderBy(col("c_mktsegment"), col("event_type"))
  }

  private val q64Oracle =
    """SELECT c_mktsegment, event_type, count(*) AS n_events,
              CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       FROM events JOIN customer ON user_id = c_custkey
       GROUP BY 1, 2 ORDER BY c_mktsegment, event_type"""

  // --------------------------------------------------------------------
  // q165 — ROW TRACKING (the Delta row-id shape), oracle-checked end to
  // end: a rowTracking table takes two DETERMINISTIC appends (each a
  // sorted single file, so virtual id = watermark base + sort position
  // is arithmetically predictable), then survives the full rewrite
  // gauntlet — compact() (ids MATERIALIZE into the rewritten file), a
  // SQL copy-on-write UPDATE (each row's id rides Spark's rewrite plan
  // as preserved metadata into the replacement files), and an
  // optimizeZorder relayout — and the DSv2 scan serves `_row_id` =
  // coalesce(materialized, base + index) unchanged through all three.
  // The oracle recomputes every id from row_number() arithmetic, so a
  // single shifted/reassigned id anywhere hash-fails the row. At scale:
  // appends assign ids as log METADATA (zero data bytes); only rewrites
  // pay one long column; the scan's id path is the same positional
  // (generated row index) machinery the deletion vectors already use.
  // --------------------------------------------------------------------
  def q165RowTracking(s: SparkSession, dir: String): DataFrame = {
    val wh = s"${scratch("rowtrack", dir)}/warehouse"
    graft.core.Fs.rmTree(new java.io.File(wh))
    val cat = s"gq165_${math.abs(wh.hashCode).toString.take(8)}"
    graft.api.Graft.registerCatalog(s, cat, wh)
    try {
      s.sql(s"CREATE TABLE $cat.rt.orders_rt " +
        "(o_orderkey BIGINT, o_totalprice DOUBLE) " +
        "TBLPROPERTIES ('rowTracking' = 'true')")
      val t = new graft.medallion.GraftTable(s"$wh/rt/orders_rt")
      val src = graft.core.CacheScope.cached(lake(s, dir).orders
        .select(col("o_orderkey"), col("o_totalprice"))) // one source scan (r16 opt)
      t.append(src.filter(col("o_orderkey") % 3 === 0)
        .orderBy(col("o_orderkey")).coalesce(1))
      t.append(src.filter(col("o_orderkey") % 3 === 1)
        .orderBy(col("o_orderkey")).coalesce(1))
      t.compact(s)
      s.sql(s"UPDATE $cat.rt.orders_rt " +
        "SET o_totalprice = o_totalprice + 1000 WHERE o_orderkey % 5 = 0")
      t.optimizeZorder(s, Seq("o_orderkey"), targetFiles = 4)
      // ROUND 16 — the MERGE-ON-READ leg of the gauntlet: Delta's
      // row-tracking contract keeps a row's id stable across updates on
      // BOTH DML planes, so the same ids must survive (a) a SQL MOR
      // UPDATE (matched rows become DV entries, post-images append
      // carrying the preserved `_row_id` metadata) and (b) a keyed MOR
      // upsert (post-images join back their base row's id by key) — and
      // then a final compact that MATERIALIZES everything. The oracle
      // recomputes every id arithmetically, so a MOR path that minted
      // fresh ids (the pre-round-16 behavior: update == delete+insert
      // to an id-keyed consumer) hash-fails the row.
      t.setProperty(graft.medallion.TxLog.UpdateModeProp,
        graft.medallion.TxLog.DeleteModeMor)
      s.sql(s"UPDATE $cat.rt.orders_rt " +
        "SET o_totalprice = o_totalprice + 7 WHERE o_orderkey % 7 = 0")
      val changes = s.sql(
        s"""SELECT o_orderkey, o_totalprice + 11 AS o_totalprice,
                   CAST(false AS BOOLEAN) AS _deleted, CAST(1 AS BIGINT) AS _seq
            FROM $cat.rt.orders_rt WHERE o_orderkey % 11 = 0""")
      t.upsert(changes, "o_orderkey", "_seq")
      t.compact(s)
      s.sql(s"""SELECT o_orderkey, _row_id AS row_id, o_totalprice
               FROM $cat.rt.orders_rt ORDER BY o_orderkey""")
    } finally s.conf.unset(s"spark.sql.catalog.$cat")
  }

  private val q165Oracle =
    """WITH g0 AS (
         SELECT o_orderkey, o_totalprice,
                row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
         FROM orders WHERE o_orderkey % 3 = 0),
       g1 AS (
         SELECT o_orderkey, o_totalprice,
                (SELECT count(*) FROM g0)
                  + row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
         FROM orders WHERE o_orderkey % 3 = 1),
       u AS (SELECT * FROM g0 UNION ALL SELECT * FROM g1)
       SELECT o_orderkey, CAST(rid AS BIGINT) AS row_id,
              o_totalprice
                + CASE WHEN o_orderkey % 5 = 0 THEN 1000 ELSE 0 END
                + CASE WHEN o_orderkey % 7 = 0 THEN 7 ELSE 0 END
                + CASE WHEN o_orderkey % 11 = 0 THEN 11 ELSE 0 END
              AS o_totalprice
       FROM u ORDER BY o_orderkey"""

  // --------------------------------------------------------------------
  // q162 — watermarked STREAM-STREAM interval join, oracle-checked: the
  // impression→click attribution shape (EventStreams.joinWithin) driven
  // by a deterministic bounded replay (Trigger.AvailableNow), leftOuter.
  // Inner rows are every (view, click) pair with click_ts inside
  // [view_ts, view_ts + 30 min] on the same user; outer rows are the
  // impressions the final watermark PROVES unconverted — Spark emits a
  // null-click row only once the watermark passes the impression's match
  // window, so an impression near the end of the feed (still inside
  // horizon when the replay ends) is deliberately ABSENT. That horizon
  // is deterministic: watermark = min over both sides of
  // (max event-time seen, floored to ms) - 10 min delay, and the oracle
  // reproduces it arithmetically (epoch_ms flooring included — Spark
  // tracks event-time stats at millisecond precision). State at scale is
  // bounded by the interval condition on BOTH sides: one hash exchange
  // per side on user_id, each side discards buffered rows once the
  // watermark proves no partner can arrive — O(in-window rows/key),
  // never O(stream).
  // --------------------------------------------------------------------
  def q162StreamStreamJoin(s: SparkSession, dir: String): DataFrame = {
    val sink = s"q162_attrib_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    // two independent streaming scans (not one filtered twice): a
    // self-joined lineage would need column disambiguation through the
    // shared source; separate readers keep each side's watermark column
    // unambiguous
    val imps = EventStreams.readEvents(s, dir)
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("imp_id"),
        col("ts").as("imp_ts"))
    val clicks = EventStreams.readEvents(s, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val joined = EventStreams.joinWithin(imps, clicks, "user_id",
      "imp_ts", "click_ts", within = "30 minutes",
      watermarkDelay = "10 minutes", joinType = "leftOuter")
    EventStreams.runToMemorySink(joined, sink,
        org.apache.spark.sql.streaming.OutputMode.Append)
      .select(col("user_id"), col("imp_id"),
        date_format(col("imp_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("imp_ts"),
        col("click_id"),
        date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("click_ts"))
      .orderBy(col("user_id"), col("imp_id"), col("click_id"))
  }

  private val q162Oracle =
    """WITH imp AS (
         SELECT user_id, event_id AS imp_id, ts AS imp_ts
         FROM events WHERE event_type = 'view'),
       clk AS (
         SELECT user_id, event_id AS click_id, ts AS click_ts
         FROM events WHERE event_type = 'click'),
       wm AS (
         SELECT to_timestamp(
                  least((SELECT epoch_ms(max(imp_ts)) FROM imp),
                        (SELECT epoch_ms(max(click_ts)) FROM clk))
                  / 1000.0) - INTERVAL 10 MINUTE AS w)
       SELECT i.user_id, i.imp_id,
              strftime(i.imp_ts, '%Y-%m-%d %H:%M:%S.%f') AS imp_ts,
              c.click_id,
              strftime(c.click_ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts
       FROM imp i LEFT JOIN clk c
         ON i.user_id = c.user_id
        AND c.click_ts >= i.imp_ts
        AND c.click_ts <= i.imp_ts + INTERVAL 30 MINUTE
       WHERE c.click_id IS NOT NULL
          OR i.imp_ts + INTERVAL 30 MINUTE < (SELECT w FROM wm)
       ORDER BY i.user_id, i.imp_id, c.click_id"""

  // --------------------------------------------------------------------
  // q78 — ordered funnel analysis (signup → view → purchase, STRICT
  // temporal order with a 24 h per-step conversion window — a view
  // before the signup, or a purchase three days after the qualifying
  // view, does not count; that is what separates a funnel from three
  // filters). Two chained running windows over one (user_id)
  // partitioning compute "earliest qualified stage-k time so far"; a
  // per-user aggregate collapses to the furthest stage reached; a tiny
  // stage histogram comes out. ONE user-keyed shuffle (both windows and
  // the user aggregate share the user_id partitioning — plan-checked;
  // only the 4-key histogram re-shuffles after map-side pre-agg), no
  // self-joins, no per-user event collection. Strict `<`
  // on whole-microsecond timestamps with (ts, event_id) tiebreak
  // ordering and exact interval addition — cross-engine exact.
  // --------------------------------------------------------------------
  private val Q78_WINDOW = "INTERVAL 24 HOURS"

  def q78Funnel(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def within(base: Column) =
      base < col("ts") && col("ts") < base + expr(Q78_WINDOW)
    lake(s, dir).events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("t_signup",
        min(when(col("event_type") === "signup", col("ts"))).over(w))
      .withColumn("t_view",
        min(when(col("event_type") === "view" && within(col("t_signup")),
          col("ts"))).over(w))
      .groupBy(col("user_id"))
      .agg((
        max(when(col("event_type") === "signup", 1).otherwise(0))
          + max(when(col("event_type") === "view"
              && within(col("t_signup")), 1).otherwise(0))
          + max(when(col("event_type") === "purchase"
              && within(col("t_view")), 1).otherwise(0))
        ).as("stage"))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("stage"))
  }

  private val q78Oracle =
    """WITH w1 AS (
         SELECT user_id, ts, event_id, event_type,
                min(CASE WHEN event_type = 'signup' THEN ts END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS t_signup
         FROM events),
       w2 AS (
         SELECT *, min(CASE WHEN event_type = 'view' AND t_signup < ts
                            AND ts < t_signup + INTERVAL 24 HOURS
                            THEN ts END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS t_view
         FROM w1),
       u AS (
         SELECT user_id,
                max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
              + max(CASE WHEN event_type = 'view' AND t_signup < ts
                         AND ts < t_signup + INTERVAL 24 HOURS
                         THEN 1 ELSE 0 END)
              + max(CASE WHEN event_type = 'purchase' AND t_view < ts
                         AND ts < t_view + INTERVAL 24 HOURS
                         THEN 1 ELSE 0 END) AS stage
         FROM w2 GROUP BY user_id)
       SELECT stage, count(*) AS n_users FROM u
       GROUP BY stage ORDER BY stage"""

  // --------------------------------------------------------------------
  // q79 — cohort retention: users grouped by first-activity ISO week,
  // distinct actives per (cohort, week offset). All-integer offset math
  // (epoch-day difference div 7 — both engines truncate toward zero on
  // the non-negative domain), dates out as ISO strings. Two shuffles:
  // the per-user cohort aggregate and the events-to-cohort join share
  // the user_id key (one exchange each side), the final histogram is
  // cohort-cardinality-sized.
  // --------------------------------------------------------------------
  def q79Retention(s: SparkSession, dir: String): DataFrame = {
    val ev = lake(s, dir).events
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val cohorts = ev.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("d"))).cast(DateType).as("cohort_week"))
    ev.join(cohorts, "user_id")
      .select(col("user_id"), col("cohort_week"),
        expr("datediff(d, cohort_week) div 7").as("week_offset"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"), col("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  private val q79Oracle =
    """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
       c AS (SELECT user_id, date_trunc('week', min(d)) AS cw
             FROM ev GROUP BY user_id),
       j AS (SELECT ev.user_id, c.cw,
                    date_diff('day', c.cw, ev.d) // 7 AS week_offset
             FROM ev JOIN c ON ev.user_id = c.user_id)
       SELECT strftime(cw, '%Y-%m-%d') AS cohort_week, week_offset,
              count(DISTINCT user_id) AS n_users
       FROM j GROUP BY cw, week_offset ORDER BY cohort_week, week_offset"""

  // --------------------------------------------------------------------
  // q82 — CDC upsert (the Delta-MERGE equivalent, Medallion.applyCdc):
  // fold a deterministic change batch into the customer snapshot —
  // two UPDATE versions per key (latest _seq wins), an upsert-then-
  // DELETE (the delete wins and drops the key), and brand-new INSERT
  // keys — then emit the merged snapshot. Exercises the full reference
  // envelope semantics (setup_debezium.py upsert/delete apply) under
  // the oracle: latest-per-key window ≫ delete filter ≫ anti-join ≫
  // union. The change batch is synthesized from the customer table
  // itself so the oracle can reproduce it exactly; each branch is a
  // pushdown-filtered dim scan (cheap), and the merge itself is the
  // scale-relevant part: one window shuffle of the (small) batch + one
  // key anti-join against the snapshot, never a snapshot rewrite.
  // Double arithmetic (+100.0/+200.0) is a single IEEE add on both
  // engines — bit-exact.
  // --------------------------------------------------------------------
  def q82CdcUpsert(s: SparkSession, dir: String): DataFrame = {
    // NOT cached: unlike the lifecycle queries, q82 consumes `base` in
    // ONE action — the union's six scans pipeline inside a single job,
    // which beats a serialized cache materialization (measured r16:
    // caching tripled the job count 6→17 at equal wall)
    val base = lake(s, dir).customer.select(
      col("c_custkey"), col("c_name"), col("c_nationkey"),
      col("c_acctbal"), col("c_mktsegment"))
    val m = col("c_custkey") % 10
    def tagged(df: DataFrame, deleted: Boolean, seq: Long): DataFrame =
      df.withColumn("_deleted", lit(deleted)).withColumn("_seq", lit(seq))
    val changes =
      tagged(base.filter(m < 3)
        .withColumn("c_acctbal", col("c_acctbal") + 100.0)
        .withColumn("c_mktsegment", lit("UPDATED_V1")), deleted = false, 1L)
      .unionByName(tagged(base.filter(m < 3)
        .withColumn("c_acctbal", col("c_acctbal") + 200.0)
        .withColumn("c_mktsegment", lit("UPDATED_V2")), deleted = false, 2L))
      .unionByName(tagged(base.filter(m === 7)
        .withColumn("c_mktsegment", lit("DOOMED")), deleted = false, 1L))
      .unionByName(tagged(base.filter(m === 7), deleted = true, 2L))
      .unionByName(tagged(base.filter(m === 5)
        .withColumn("c_custkey", col("c_custkey") + 1000000L)
        .withColumn("c_mktsegment", lit("INSERTED")), deleted = false, 1L))
    Medallion.applyCdc(base, changes, "c_custkey", "_seq")
      .orderBy(col("c_custkey"))
  }

  private val q82Oracle =
    """WITH base AS (
         SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
         FROM customer),
       changes AS (
         SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100.0 AS c_acctbal,
                'UPDATED_V1' AS c_mktsegment, false AS _deleted, 1 AS _seq
         FROM base WHERE c_custkey % 10 < 3
         UNION ALL
         SELECT c_custkey, c_name, c_nationkey, c_acctbal + 200.0,
                'UPDATED_V2', false, 2
         FROM base WHERE c_custkey % 10 < 3
         UNION ALL
         SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                'DOOMED', false, 1
         FROM base WHERE c_custkey % 10 = 7
         UNION ALL
         SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                c_mktsegment, true, 2
         FROM base WHERE c_custkey % 10 = 7
         UNION ALL
         SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal,
                'INSERTED', false, 1
         FROM base WHERE c_custkey % 10 = 5),
       latest AS (
         SELECT * FROM (
           SELECT *, row_number() OVER (PARTITION BY c_custkey
                                        ORDER BY _seq DESC) AS rn
           FROM changes)
         WHERE rn = 1)
       SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
       FROM base WHERE c_custkey NOT IN (SELECT c_custkey FROM latest)
       UNION ALL
       SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
       FROM latest WHERE NOT _deleted
       ORDER BY c_custkey"""

  // --------------------------------------------------------------------
  // q84 — partition-scoped CDC upsert ON DISK (applyCdcPartitioned, the
  // partition-pruned MERGE): orders land as a year-partitioned parquet
  // snapshot under target/tmp; a change batch touching ONLY years 1996,
  // 1999 (update chains + deletes) and creating year 2099 (inserts)
  // folds in, rewriting just those three partition directories; the
  // merged table is read back whole. Every change carries its row's own
  // partition value, so the per-partition merge equals the oracle's
  // global latest-per-key ≫ delete ≫ anti-join ≫ union semantics. The
  // snapshot is rewritten fresh each run (static partition-overwrite
  // truncates the table dir), so reruns are deterministic.
  // --------------------------------------------------------------------
  def q84CdcPartitioned(s: SparkSession, dir: String): DataFrame = {
    val table = s"${scratch("cdc_part", dir)}/orders"
    val base = lake(s, dir).orders.select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), year(col("o_orderdate")).as("yr"))
      .transform(graft.core.CacheScope.cached) // one source scan per query (r16 opt, guide §1.2/§5)
    // partition-dir-aligned shuffle: each task owns whole year dirs, so
    // the table lands as one file per partition — a key-spread
    // repartition here would write (tasks × years) tiny files, the
    // small-files antipattern Maintenance.compactParquet exists to fix
    base.repartition(col("yr"))
      .write.mode("overwrite").partitionBy("yr").parquet(table)
    val m = col("o_orderkey") % 10
    val touched = col("yr").isin(1996, 1999)
    def tagged(df: DataFrame, deleted: Boolean, seq: Long): DataFrame =
      df.withColumn("_deleted", lit(deleted)).withColumn("_seq", lit(seq))
    // cached: applyCdcPartitioned replays this 4-way union once per
    // touched partition (distinct + 3 per-partition folds) — uncached,
    // each fold re-scans orders four times (round 16, guide §5)
    val changes = graft.core.CacheScope.cached(
      tagged(base.filter(touched && m === 1)
        .withColumn("o_orderstatus", lit("U1"))
        .withColumn("o_totalprice", col("o_totalprice") + 50.0), deleted = false, 1L)
      .unionByName(tagged(base.filter(touched && m === 1)
        .withColumn("o_orderstatus", lit("U2"))
        .withColumn("o_totalprice", col("o_totalprice") + 75.0), deleted = false, 2L))
      .unionByName(tagged(base.filter(touched && m === 2), deleted = true, 1L))
      .unionByName(tagged(base.filter(touched && m === 3)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
        .withColumn("o_orderstatus", lit("NEW"))
        .withColumn("yr", lit(2099)), deleted = false, 1L)))
    Medallion.applyCdcPartitioned(s, table, changes, "o_orderkey", "_seq", "yr")
    s.read.parquet(table)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("yr").cast(LongType).as("yr"))
      .orderBy(col("o_orderkey"))
  }

  private val q84Oracle =
    """WITH base AS (
         SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                year(o_orderdate) AS yr
         FROM orders),
       changes AS (
         SELECT o_orderkey, o_custkey, 'U1' AS o_orderstatus,
                o_totalprice + 50.0 AS o_totalprice, yr,
                false AS _deleted, 1 AS _seq
         FROM base WHERE yr IN (1996, 1999) AND o_orderkey % 10 = 1
         UNION ALL
         SELECT o_orderkey, o_custkey, 'U2', o_totalprice + 75.0, yr, false, 2
         FROM base WHERE yr IN (1996, 1999) AND o_orderkey % 10 = 1
         UNION ALL
         SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, yr, true, 1
         FROM base WHERE yr IN (1996, 1999) AND o_orderkey % 10 = 2
         UNION ALL
         SELECT o_orderkey + 10000000, o_custkey, 'NEW', o_totalprice, 2099,
                false, 1
         FROM base WHERE yr IN (1996, 1999) AND o_orderkey % 10 = 3),
       latest AS (
         SELECT * FROM (
           SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                        ORDER BY _seq DESC) AS rn
           FROM changes)
         WHERE rn = 1)
       SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
              CAST(yr AS BIGINT) AS yr
       FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM latest)
       UNION ALL
       SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
              CAST(yr AS BIGINT)
       FROM latest WHERE NOT _deleted
       ORDER BY o_orderkey"""

  // --------------------------------------------------------------------
  // q88 — log-structured table format end to end (GraftTable/TxLog, the
  // transactional layer that replaces every rename-based swap on object
  // stores): orders land in a fresh table via two APPEND commits (split
  // at 1996), a CDC change batch folds in through the file-granular
  // copy-on-write UPSERT (update chain on m==1, delete on m==2, inserts
  // at +10M — latest _seq wins), the live set is COMPACTED in one
  // conflict-checked commit, a CHECKPOINT is cut, and the final read
  // resolves the snapshot purely from the log (checkpoint + suffix,
  // never a data-dir listing). Every row thus flows through
  // put-if-absent commits, stats collection, and snapshot resolution;
  // the oracle reproduces the merge arithmetic, so a hash match proves
  // the whole protocol preserves data exactly. Scale: the log is
  // O(files) driver-side metadata; data moves only in staged parquet
  // jobs at full parallelism.
  // --------------------------------------------------------------------
  def q88TableFormat(s: SparkSession, dir: String): DataFrame = {
    val root = s"${scratch("txlog", dir)}/orders_tx"
    graft.core.Fs.rmTree(new java.io.File(root)) // fresh table per run: reruns deterministic
    val t = new graft.medallion.GraftTable(root)
    val base = lake(s, dir).orders.select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), year(col("o_orderdate")).as("yr"))
      .transform(graft.core.CacheScope.cached) // one source scan per query (r16 opt, guide §1.2/§5)
    t.append(base.filter(col("yr") <= 1995))
    t.append(base.filter(col("yr") >= 1996))
    val m = col("o_orderkey") % 10
    def tagged(df: DataFrame, deleted: Boolean, seq: Long): DataFrame =
      df.withColumn("_deleted", lit(deleted)).withColumn("_seq", lit(seq))
    val changes =
      tagged(base.filter(m === 1)
        .withColumn("o_orderstatus", lit("U1"))
        .withColumn("o_totalprice", col("o_totalprice") + 50.0), deleted = false, 1L)
      .unionByName(tagged(base.filter(m === 1)
        .withColumn("o_orderstatus", lit("U2"))
        .withColumn("o_totalprice", col("o_totalprice") + 75.0), deleted = false, 2L))
      .unionByName(tagged(base.filter(m === 2), deleted = true, 1L))
      .unionByName(tagged(base.filter(m === 3)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
        .withColumn("o_orderstatus", lit("NEW")), deleted = false, 1L))
    t.upsert(changes, "o_orderkey", "_seq")
    t.compact(s)
    t.checkpoint()
    t.read(s)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("yr").cast(LongType).as("yr"))
      .orderBy(col("o_orderkey"))
  }

  private val q88Oracle =
    """WITH base AS (
         SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                year(o_orderdate) AS yr
         FROM orders),
       changes AS (
         SELECT o_orderkey, o_custkey, 'U1' AS o_orderstatus,
                o_totalprice + 50.0 AS o_totalprice, yr,
                false AS _deleted, 1 AS _seq
         FROM base WHERE o_orderkey % 10 = 1
         UNION ALL
         SELECT o_orderkey, o_custkey, 'U2', o_totalprice + 75.0, yr, false, 2
         FROM base WHERE o_orderkey % 10 = 1
         UNION ALL
         SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, yr, true, 1
         FROM base WHERE o_orderkey % 10 = 2
         UNION ALL
         SELECT o_orderkey + 10000000, o_custkey, 'NEW', o_totalprice, yr,
                false, 1
         FROM base WHERE o_orderkey % 10 = 3),
       latest AS (
         SELECT * FROM (
           SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                        ORDER BY _seq DESC) AS rn
           FROM changes)
         WHERE rn = 1)
       SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
              CAST(yr AS BIGINT) AS yr
       FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM latest)
       UNION ALL
       SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
              CAST(yr AS BIGINT)
       FROM latest WHERE NOT _deleted
       ORDER BY o_orderkey"""

  // --------------------------------------------------------------------
  // q99 — end-to-end transactional streaming pipeline over the table
  // format: orders land in a bronze GraftTable in two append commits; a
  // LIVE `readStream.format("graft-table")` tails it through a transform
  // into a silver table via the exactly-once TableSink; the second wave
  // streams through the SAME checkpoint + appId (restart semantics — the
  // already-processed commit must not re-emit); the silver table is read
  // back. `_commit_version` is kept in the output: the even/odd split
  // makes each row's source commit deterministic, so the oracle can
  // derive it arithmetically — proving not just WHAT flowed but WHEN.
  // Every moving part is the production shape: version offsets, txn
  // ledger, log-resolved snapshots; data moves only as parquet scans of
  // the new files.
  // --------------------------------------------------------------------
  def q99TablePipeline(s: SparkSession, dir: String): DataFrame = {
    val root = scratch("tblpipe", dir)
    graft.core.Fs.rmTree(new java.io.File(root)) // fresh pipeline per run: reruns deterministic
    val bronzePath = s"$root/bronze"
    val silverPath = s"$root/silver"
    val ckpt = s"$root/ckpt"
    val bronze = new graft.medallion.GraftTable(bronzePath)
    val base = lake(s, dir).orders.select(
      col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .transform(graft.core.CacheScope.cached) // one source scan per query (r16 opt, guide §1.2/§5)
    bronze.append(base.filter(col("o_orderkey") % 2 === 0)) // v1
    def run(): Unit = graft.streaming.TableSink.start(
      s.readStream.format("graft-table").option("path", bronzePath).load()
        .withColumn("price_tier",
          when(col("o_totalprice") >= 150000.0, "high")
            .when(col("o_totalprice") >= 50000.0, "mid")
            .otherwise("low")),
      silverPath, "q99-b2s", ckpt).awaitTermination()
    run()
    bronze.append(base.filter(col("o_orderkey") % 2 === 1)) // v2
    run() // restart: only commit 2 flows
    new graft.medallion.GraftTable(silverPath).read(s)
      .select(col("o_orderkey"), col("o_custkey"), col("price_tier"),
        col("_commit_version"))
      .orderBy(col("o_orderkey"))
  }

  private val q99Oracle =
    """SELECT o_orderkey, o_custkey,
              CASE WHEN o_totalprice >= 150000 THEN 'high'
                   WHEN o_totalprice >= 50000 THEN 'mid'
                   ELSE 'low' END AS price_tier,
              CAST(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS BIGINT)
                AS _commit_version
       FROM orders ORDER BY o_orderkey"""

  // --------------------------------------------------------------------
  // q104 — schema evolution through the transactional log, read back
  // over the DSv2 batch surface: v1 appends (o_orderkey, o_totalprice);
  // v2 appends with mergeSchema=true, WIDENING the table by
  // o_orderstatus. The `format("graft-table")` read resolves the evolved
  // schema from the log and null-backfills the pre-evolution rows (the
  // explicit-schema parquet scan fills absent columns); `_commit_version`
  // comes from the snapshot's provenance map, so the oracle can derive
  // every cell arithmetically. A hash match certifies the mergeSchema
  // contract end to end: widen-only evolution, trailing nullable column,
  // old files readable unrewritten. Scale: evolution is a metadata-only
  // commit — zero data files rewritten at any table size.
  // --------------------------------------------------------------------
  def q104SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val root = s"${scratch("txevo", dir)}/orders_evo"
    graft.core.Fs.rmTree(new java.io.File(root)) // fresh table per run: reruns deterministic
    val t = new graft.medallion.GraftTable(root)
    val base = lake(s, dir).orders
      .transform(graft.core.CacheScope.cached) // one source scan per query (r16 opt, guide §1.2/§5)
    t.append(base.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), col("o_totalprice")))                    // v1
    t.append(base.filter(col("o_orderkey") % 3 === 1)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus")),
      mergeSchema = true, maxRetries = 20)                                // v2
    s.read.format("graft-table").option("path", root).load()
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"),
        col("_commit_version"))
      .orderBy(col("o_orderkey"))
  }

  private val q104Oracle =
    """SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderstatus,
              CAST(1 AS BIGINT) AS _commit_version
       FROM orders WHERE o_orderkey % 3 = 0
       UNION ALL
       SELECT o_orderkey, o_totalprice, o_orderstatus, CAST(2 AS BIGINT)
       FROM orders WHERE o_orderkey % 3 = 1
       ORDER BY o_orderkey"""

  // --------------------------------------------------------------------
  // q105 — transactional Z-order: lineitem lands scattered across four
  // append commits, then ONE conflict-checked `zorder` commit rewrites
  // the live set interleaved on (l_orderkey, l_partkey) into exactly 4
  // files. The query's require()s burn the layout proof into the green
  // row — the rewrite hit its file target AND a single-orderkey range
  // now prunes files via log stats (the multidimensional-skipping
  // claim); the read-back then proves row identity through the
  // log-resolved snapshot (a rewrite that lost or duplicated one row
  // hash-mismatches). Scale: the rewrite is one staged parquet job at
  // full parallelism + one put-if-absent commit; readers never see a
  // torn layout.
  // --------------------------------------------------------------------
  def q105Zorder(s: SparkSession, dir: String): DataFrame = {
    val root = s"${scratch("txzorder", dir)}/lineitem_z"
    graft.core.Fs.rmTree(new java.io.File(root)) // fresh table per run: reruns deterministic
    val t = new graft.medallion.GraftTable(root)
    val base = lake(s, dir).lineitem.select(
      col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      .transform(graft.core.CacheScope.cached) // one source scan per query (r16 opt, guide §1.2/§5)
    // order-free slices: overlapped appends (guide §2.6, see appendSlices)
    appendSlices(t, (0 to 3).map(m =>
      base.filter(col("l_orderkey") % 4 === m).repartition(2)))           // v1..v4
    val (before, after, _) = t.optimizeZorder(
      s, Seq("l_orderkey", "l_partkey"), targetFiles = 4)
    require(before == 8 && after == 4,
      s"zorder must rewrite the 8 scattered files into 4 (got $before -> $after)")
    // data skipping on the clustered column: one orderkey's band must
    // prune at least one of the 4 z-files (the pigeonhole floor for a
    // 2-dim interleave; typical is 1-2 files scanned)
    val probe = base.agg(min(col("l_orderkey"))).head().getLong(0)
    val scanned = t.filesForRange("l_orderkey", Some(probe), Some(probe))
    require(scanned < after,
      s"z-order stats must prune a point read below $after files (scanned $scanned)")
    t.read(s)
      .withColumn("files_after", lit(after).cast(LongType))
      .orderBy(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
  }

  private val q105Oracle =
    """SELECT l_orderkey, l_partkey, l_suppkey, l_quantity,
              CAST(4 AS BIGINT) AS files_after
       FROM lineitem
       ORDER BY l_orderkey, l_partkey, l_suppkey"""

  // --------------------------------------------------------------------
  // q145 — HILBERT layout (`OPTIMIZE ... layout => 'hilbert'`): same
  // transactional rewrite as q105's Morton z-order but clustered on the
  // Hilbert curve (the Delta OPTIMIZE→Hilbert switch; Skilling's
  // transpose algorithm as a codegen'd native expression). The curve is
  // everywhere-adjacent — no Z-seam diagonal jumps — so equal-sized
  // file runs cover compact CONNECTED regions: the pruning require
  // below holds on BOTH clustered dims at once, the point Morton's
  // seam files weaken. Row-neutral and hash-matched like every layout
  // rewrite; 100 TB story: identical write cost to z-order, strictly
  // tighter per-file bounds for 2-3-dim range workloads.
  // --------------------------------------------------------------------
  def q145HilbertLayout(s: SparkSession, dir: String): DataFrame = {
    val root = s"${scratch("txhilbert", dir)}/lineitem_h"
    graft.core.Fs.rmTree(new java.io.File(root))
    val t = new graft.medallion.GraftTable(root)
    val base = lake(s, dir).lineitem.select(
      col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      .transform(graft.core.CacheScope.cached) // one source scan per query (r16 opt, guide §1.2/§5)
    // order-free slices: overlapped appends (guide §2.6, see appendSlices)
    appendSlices(t, (0 to 3).map(m =>
      base.filter(col("l_orderkey") % 4 === m).repartition(2)))           // v1..v4
    val (before, after, _) = t.optimizeZorder(
      s, Seq("l_orderkey", "l_partkey"), targetFiles = 8, layout = "hilbert")
    require(before == 8 && after == 8,
      s"hilbert must rewrite the 8 scattered files into 8 (got $before -> $after)")
    // adjacency pays on BOTH dims: a point band on either clustered
    // column prunes below the full file count
    val keyProbe = base.agg(min(col("l_orderkey"))).head().getLong(0)
    val partProbe = base.agg(min(col("l_partkey"))).head().getLong(0)
    val sKey = t.filesForRange("l_orderkey", Some(keyProbe), Some(keyProbe))
    val sPart = t.filesForRange("l_partkey", Some(partProbe), Some(partProbe))
    require(sKey * 2 <= after,
      s"hilbert stats must prune an orderkey point read to <= ${after / 2} " +
        s"of $after files (scanned $sKey)")
    require(sPart < after,
      s"hilbert stats must prune a partkey point read below $after files " +
        s"(scanned $sPart)")
    t.read(s)
      .withColumn("files_after", lit(after).cast(LongType))
      .orderBy(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
  }

  private val q145Oracle =
    """SELECT l_orderkey, l_partkey, l_suppkey, l_quantity,
              CAST(8 AS BIGINT) AS files_after
       FROM lineitem
       ORDER BY l_orderkey, l_partkey, l_suppkey"""

  // --------------------------------------------------------------------
  // q106 — the streaming source vs table MAINTENANCE, composed: a live
  // tail drains bronze v1 into silver; then a COMPACT (v2) rewrites the
  // layout, a second wave appends (v3), and a VACUUM deletes v1's
  // pre-compaction files — all BEFORE the stream restarts. The restarted
  // query replays from its checkpointed offset across the maintenance
  // window: the compact commit is row-neutral and skipped, the vacuumed
  // files are never touched (the source reads commit metadata, not the
  // old data files), and v3 flows exactly once through the txn ledger.
  // `_commit_version` tags make WHEN each row flowed part of the hash.
  // This is the operational contract that matters at 100 TB: OPTIMIZE
  // and VACUUM must never disturb or corrupt a live consumer.
  // --------------------------------------------------------------------
  def q106StreamMaintenance(s: SparkSession, dir: String): DataFrame = {
    val root = scratch("strmvac", dir)
    graft.core.Fs.rmTree(new java.io.File(root)) // fresh pipeline per run: reruns deterministic
    val bronzePath = s"$root/bronze"
    val silverPath = s"$root/silver"
    val ckpt = s"$root/ckpt"
    val bronze = new graft.medallion.GraftTable(bronzePath)
    val base = lake(s, dir).orders.select(col("o_orderkey"), col("o_totalprice"))
      .transform(graft.core.CacheScope.cached) // one source scan per query (r16 opt, guide §1.2/§5)
    bronze.append(base.filter(col("o_orderkey") % 2 === 0))               // v1
    def run(): Unit = graft.streaming.TableSink.start(
      s.readStream.format("graft-table").option("path", bronzePath).load(),
      silverPath, "q106-b2s", ckpt).awaitTermination()
    run() // drains v1
    bronze.compact(s)                                                     // v2: row-neutral rewrite
    bronze.append(base.filter(col("o_orderkey") % 2 === 1))               // v3
    val deleted = bronze.vacuum(retainVersions = 1)
    require(deleted.nonEmpty,
      "vacuum must actually delete the pre-compaction files for this test to bite")
    run() // restart across the maintenance window: only v3 flows
    new graft.medallion.GraftTable(silverPath).read(s)
      .select(col("o_orderkey"), col("o_totalprice"), col("_commit_version"))
      .orderBy(col("o_orderkey"))
  }

  private val q106Oracle =
    """SELECT o_orderkey, o_totalprice,
              CAST(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 3 END AS BIGINT)
                AS _commit_version
       FROM orders ORDER BY o_orderkey"""

  // --------------------------------------------------------------------
  // q107 — time travel over a REWRITE: orders land in two append commits
  // (v1, v2), then an upsert (v3) bumps prices on a deterministic subset
  // of v1's rows, rewriting its files. The query reads the SAME table
  // twice through the DSv2 surface — `versionAsOf 2` (pre-upsert
  // snapshot, resolved from the immutable log even though the upsert
  // replaced those files) and head — and unions them tagged. A hash
  // match proves snapshot isolation across copy-on-write: the old
  // version's bytes are exactly the pre-change data, the head's exactly
  // the post-change merge. Scale: time travel is pure log resolution —
  // no data copies, no restore job, any version within the vacuum
  // retention window.
  // --------------------------------------------------------------------
  def q107TimeTravel(s: SparkSession, dir: String): DataFrame = {
    val root = s"${scratch("txtravel", dir)}/orders_tt"
    graft.core.Fs.rmTree(new java.io.File(root)) // fresh table per run: reruns deterministic
    val t = new graft.medallion.GraftTable(root)
    val base = lake(s, dir).orders.select(col("o_orderkey"), col("o_totalprice"))
      .transform(graft.core.CacheScope.cached) // one source scan per query (r16 opt, guide §1.2/§5)
    t.append(base.filter(col("o_orderkey") % 5 === 0))                    // v1
    t.append(base.filter(col("o_orderkey") % 5 === 1))                    // v2
    t.upsert(base.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 100.0)
      .withColumn("_deleted", lit(false)).withColumn("_seq", lit(1L)),
      "o_orderkey", "_seq")                                               // v3
    def readAt(opts: Map[String, String], tag: String) =
      opts.foldLeft(s.read.format("graft-table").option("path", root)) {
        case (r, (k, v)) => r.option(k, v)
      }.load().select(col("o_orderkey"), col("o_totalprice"), lit(tag).as("as_of"))
    readAt(Map("versionAsOf" -> "2"), "v2")
      .unionByName(readAt(Map.empty, "head"))
      .orderBy(col("as_of"), col("o_orderkey"))
  }

  private val q107Oracle =
    """SELECT o_orderkey, o_totalprice, 'v2' AS as_of
       FROM orders WHERE o_orderkey % 5 IN (0, 1)
       UNION ALL
       SELECT o_orderkey,
              CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 100.0
                   ELSE o_totalprice END,
              'head'
       FROM orders WHERE o_orderkey % 5 IN (0, 1)
       ORDER BY as_of, o_orderkey"""

  // --------------------------------------------------------------------
  // q109 — metadata-only aggregates: COUNT(*) / MIN / MAX over a graft
  // table answer ENTIRELY from the commit log's per-file row counts and
  // min/max stats — the require() proves the plan contains no data scan,
  // so the green row certifies both the zero-IO plan shape AND the
  // arithmetic (the oracle recomputes from the raw rows). At 100 TB
  // this is the difference between a sub-second driver-side metadata
  // read and a full-table scan for the most common dashboard queries.
  // --------------------------------------------------------------------
  def q109MetadataAgg(s: SparkSession, dir: String): DataFrame = {
    val root = s"${scratch("txmeta", dir)}/orders_meta"
    graft.core.Fs.rmTree(new java.io.File(root)) // fresh table per run: reruns deterministic
    val t = new graft.medallion.GraftTable(root)
    val base = lake(s, dir).orders.select(
      col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .transform(graft.core.CacheScope.cached) // one source scan per query (r16 opt, guide §1.2/§5)
    t.append(base.filter(col("o_orderkey") % 2 === 0))                    // v1
    t.append(base.filter(col("o_orderkey") % 2 === 1))                    // v2
    val agg = s.read.format("graft-table").option("path", root).load()
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        min(col("o_orderstatus")).as("min_status"),
        max(col("o_orderstatus")).as("max_status"),
        max(col("_commit_version")).as("max_version"))
    // the zero-IO proof, burned into the green row: the pushed aggregate
    // plans a local metadata row, never a data scan
    val plan = agg.queryExecution.executedPlan.toString
    require(!plan.contains("BatchScan"),
      s"metadata aggregate must not scan data:\n$plan")
    agg
  }

  private val q109Oracle =
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
              min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
              min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
              min(o_orderstatus) AS min_status, max(o_orderstatus) AS max_status,
              CAST(2 AS BIGINT) AS max_version
       FROM orders"""

  // --------------------------------------------------------------------
  // q110 — GROUP BY + COUNT(col) answered from the commit log alone.
  // One append per o_orderstatus reproduces the layout partitioned
  // ingest leaves behind (every file single-valued on the group
  // column); the per-file null counts make COUNT(maybe_key) exact.
  // The require() proves no data file is opened — at 100 TB the
  // per-partition dashboard rollup (`GROUP BY dt`) is a driver-side
  // metadata read.
  // --------------------------------------------------------------------
  def q110GroupedMetadataAgg(s: SparkSession, dir: String): DataFrame = {
    val root = s"${scratch("txmeta", dir)}/orders_by_status"
    graft.core.Fs.rmTree(new java.io.File(root)) // fresh table per run: reruns deterministic
    val t = new graft.medallion.GraftTable(root)
    val base = lake(s, dir).orders
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .withColumn("maybe_key", when(col("o_orderkey") % 3 === 0, col("o_orderkey")))
      .transform(graft.core.CacheScope.cached) // one source scan per query (r16 opt, guide §1.2/§5)
    // group-count-sized collect (3 statuses): drives the one-commit-per-
    // partition-value ingest this scenario simulates
    val statuses = base.select("o_orderstatus").distinct()
      .collect().map(_.getString(0)).sorted
    // NOT order-free: the aggregate reports each status's commit VERSION,
    // so the one-commit-per-value ingest must stay sequential (round-17
    // overlap attempt reverted — oracle caught the version permutation)
    statuses.foreach(st => t.append(base.filter(col("o_orderstatus") === st)))
    val agg = s.read.format("graft-table").option("path", root).load()
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("maybe_key")).as("n_maybe"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        max(col("_commit_version")).as("version"))
      .orderBy("o_orderstatus")
    val plan = agg.queryExecution.executedPlan.toString
    require(!plan.contains("BatchScan"),
      s"grouped metadata aggregate must not scan data:\n$plan")
    agg
  }

  private val q110Oracle =
    """SELECT o_orderstatus,
              CAST(count(*) AS BIGINT) AS n_rows,
              CAST(count(CASE WHEN o_orderkey % 3 = 0 THEN 1 END) AS BIGINT) AS n_maybe,
              min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
              min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
              CAST(dense_rank() OVER (ORDER BY o_orderstatus) AS BIGINT) AS version
       FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  // --------------------------------------------------------------------
  // q111 — transactional range DELETE with three-way file triage. Four
  // key-range appends (one file each), then DELETE of a range that
  // wholly covers the second file and straddles the third: the require
  // proves exactly one file dropped by PURE METADATA (no read, no
  // write) and exactly one rewritten — at 100 TB the retention delete
  // ("drop everything before date D") touches the boundary file, not
  // the table. Null keys and survivors hash-checked against SQL DELETE
  // semantics (NOT BETWEEN).
  // --------------------------------------------------------------------
  def q111RangeDelete(s: SparkSession, dir: String): DataFrame = {
    val root = s"${scratch("txmeta", dir)}/orders_delete"
    graft.core.Fs.rmTree(new java.io.File(root)) // fresh table per run: reruns deterministic
    val t = new graft.medallion.GraftTable(root)
    val base = lake(s, dir).orders
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .transform(graft.core.CacheScope.cached) // one source scan per query (r16 opt, guide §1.2/§5)
    val q = base.agg(max(col("o_orderkey"))).head().getLong(0) / 4
    val k = col("o_orderkey")
    t.append(base.filter(k <= q).repartition(1))                       // v1
    t.append(base.filter(k > q && k <= 2 * q).repartition(1))          // v2
    t.append(base.filter(k > 2 * q && k <= 3 * q).repartition(1))      // v3
    t.append(base.filter(k > 3 * q).repartition(1))                    // v4
    // DELETE WHERE q+1 <= key <= 5q/2: covers v2 wholly, half of v3
    val (dropped, rewritten, _) =
      t.delete(s, "o_orderkey", Some(q + 1), Some(5 * q / 2))
    require(dropped == 1 && rewritten == 1,
      s"triage must drop v2 by metadata and rewrite only v3 ($dropped/$rewritten)")
    s.read.format("graft-table").option("path", root).load()
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  private val q111Oracle =
    """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
       WHERE o_orderkey NOT BETWEEN ((SELECT max(o_orderkey) FROM orders)//4)+1
                                AND (5*((SELECT max(o_orderkey) FROM orders)//4))//2
       ORDER BY o_orderkey"""

  // --------------------------------------------------------------------
  // q113 — the table format as a full SQL-DML citizen, driven end to end
  // through the TableCatalog: CREATE TABLE (v1) → INSERT INTO a third of
  // orders (v2, optimistic append commit) → ALTER TABLE ADD COLUMNS
  // (v3, schema-only commit: zero files rewritten, old rows null) →
  // INSERT INTO with the widened schema (v4) → CTAS a second table →
  // INSERT OVERWRITE it (CAS overwrite commit) — then one read-back
  // selecting `_commit_version`, the DSv2 METADATA column (absent from
  // SELECT *, invisible to INSERT resolution, resolved on request from
  // the log's provenance map). Deterministic commit numbering makes
  // every provenance cell oracle-derivable, so a hash match certifies
  // the whole DML surface: by-position INSERT casts, widen-only ALTER,
  // null backfill, overwrite isolation, metadata-column reads. Scale:
  // each statement is one parquet write at full parallelism + one
  // put-if-absent commit; ALTER moves no data at any table size.
  // --------------------------------------------------------------------
  def q113SqlDml(s: SparkSession, dir: String): DataFrame = {
    val wh = s"${scratch("sqldml", dir)}/warehouse"
    graft.core.Fs.rmTree(new java.io.File(wh)) // fresh warehouse per run: reruns deterministic
    // dir-derived name: Spark caches catalog instances per session, so
    // one session verifying several scale factors needs one catalog
    // name per warehouse (same reason Graft.registerCatalog refuses to
    // re-point a name)
    val cat = s"gq113_${math.abs(wh.hashCode).toString.take(8)}"
    graft.api.Graft.registerCatalog(s, cat, wh)
    try {
      graft.core.CacheScope.cached(lake(s, dir).orders
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus")))
        .createOrReplaceTempView("q113_src") // 4 INSERT/CTAS scans serve from one read (r16 opt)
      s.sql(s"CREATE TABLE $cat.dml.orders_sql (o_orderkey BIGINT, o_totalprice DOUBLE)") // v1
      s.sql(s"""INSERT INTO $cat.dml.orders_sql
               SELECT o_orderkey, o_totalprice FROM q113_src
               WHERE o_orderkey % 3 = 0""")                                // v2
      s.sql(s"ALTER TABLE $cat.dml.orders_sql ADD COLUMNS (o_orderstatus STRING)") // v3
      s.sql(s"""INSERT INTO $cat.dml.orders_sql
               SELECT o_orderkey, o_totalprice, o_orderstatus FROM q113_src
               WHERE o_orderkey % 3 = 1""")                                // v4
      s.sql(s"""CREATE TABLE $cat.dml.rest AS
               SELECT o_orderkey, o_totalprice, o_orderstatus FROM q113_src
               WHERE o_orderkey % 3 = 2""")                                // rest v1+v2
      s.sql(s"""INSERT OVERWRITE $cat.dml.rest
               SELECT o_orderkey, o_totalprice, o_orderstatus FROM q113_src
               WHERE o_orderkey % 9 = 2""")                                // rest v3
      s.sql(s"""SELECT o_orderkey, o_totalprice, o_orderstatus,
                      _commit_version
               FROM $cat.dml.orders_sql
               UNION ALL
               SELECT o_orderkey, o_totalprice, o_orderstatus,
                      _commit_version
               FROM $cat.dml.rest
               UNION ALL
               -- SQL time travel: the pre-evolution snapshot (its
               -- then-current two-column schema), keys negated so the
               -- branch is distinguishable in the sorted union
               SELECT -o_orderkey, o_totalprice, CAST(NULL AS STRING),
                      _commit_version
               FROM $cat.dml.orders_sql VERSION AS OF 2
               WHERE o_orderkey > 0
               ORDER BY o_orderkey""")
    } finally {
      s.catalog.dropTempView("q113_src")
      s.conf.unset(s"spark.sql.catalog.$cat")
      s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  private val q113Oracle =
    """SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderstatus,
              CAST(2 AS BIGINT) AS _commit_version
       FROM orders WHERE o_orderkey % 3 = 0
       UNION ALL
       SELECT o_orderkey, o_totalprice, o_orderstatus, CAST(4 AS BIGINT)
       FROM orders WHERE o_orderkey % 3 = 1
       UNION ALL
       SELECT o_orderkey, o_totalprice, o_orderstatus, CAST(3 AS BIGINT)
       FROM orders WHERE o_orderkey % 9 = 2
       UNION ALL
       SELECT -o_orderkey, o_totalprice, CAST(NULL AS VARCHAR), CAST(2 AS BIGINT)
       FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey > 0
       ORDER BY o_orderkey"""

  // --------------------------------------------------------------------
  // q114 — SQL UPDATE / MERGE INTO / arbitrary-predicate DELETE on the
  // table format, through Spark's group-based (copy-on-write) row-level
  // operation rewrite: the operation's scan prunes candidate FILES from
  // log stats (pushed condition, conservatively widened — safe because
  // the rewrite re-evaluates the exact predicate per row) and surfaces
  // every row of the surviving files; the replacement rows stage as
  // parquet through Spark's own writer factory; ONE serializable
  // `replace` commit swaps scanned files for staged. UPDATE discounts a
  // third of the orders, a MERGE (sourced from the customer table)
  // re-prices matched rows and inserts synthetic audit rows, and a
  // strict-inequality DELETE — refused by the metadata path by design —
  // rewrites groups instead. Every surviving cell is oracle-derivable,
  // so a hash match certifies predicate routing, null-safe carry-over
  // of unmatched rows in matched files, and insert dedup. Scale: only
  // affected files are read or written at any table size.
  // --------------------------------------------------------------------
  def q114SqlMerge(s: SparkSession, dir: String): DataFrame = {
    val wh = s"${scratch("sqlmerge", dir)}/warehouse"
    graft.core.Fs.rmTree(new java.io.File(wh)) // fresh warehouse per run: reruns deterministic
    // dir-derived name — see q113
    val cat = s"gq114_${math.abs(wh.hashCode).toString.take(8)}"
    graft.api.Graft.registerCatalog(s, cat, wh)
    try {
      // one orders read serves the max-key probe, the 4 range appends,
      // and both MERGE source branches (r16 opt, guide §1.2/§5)
      val src114 = graft.core.CacheScope.cached(lake(s, dir).orders
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")))
      src114.createOrReplaceTempView("q114_src")
      val t = new graft.medallion.GraftTable(s"$wh/dml/orders_rl")
      // four files with disjoint key ranges, so candidate pruning bites
      val maxKey = src114.agg(max(col("o_orderkey"))).head().getLong(0)
      val q = maxKey / 4
      (0 to 3).foreach { b =>
        t.append(src114
          .filter((if (b == 0) lit(true) else col("o_orderkey") > b * q) &&
            (if (b == 3) lit(true) else col("o_orderkey") <= (b + 1) * q))
          .repartition(1))
      }
      s.sql(s"""UPDATE $cat.dml.orders_rl
                SET o_totalprice = o_totalprice * CAST(0.9 AS DOUBLE)
                WHERE o_orderkey % 3 = 0 AND o_orderkey <= $q""")
      // matched keys re-price; negated keys exist nowhere → INSERT branch
      s.sql(s"""MERGE INTO $cat.dml.orders_rl AS t
                USING (SELECT o_orderkey AS k FROM q114_src
                       WHERE o_orderkey % 5 = 0 AND o_orderkey <= $q
                       UNION ALL
                       SELECT -o_orderkey FROM q114_src
                       WHERE o_orderkey % 7 = 0 AND o_orderkey > 0
                         AND o_orderkey <= $q) AS src
                ON t.o_orderkey = src.k
                WHEN MATCHED THEN UPDATE SET o_custkey = -1
                WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_totalprice)
                  VALUES (src.k, -2, CAST(0.0 AS DOUBLE))""")
      s.sql(s"DELETE FROM $cat.dml.orders_rl WHERE o_orderkey > ${3 * q}")
      s.sql(s"""SELECT o_orderkey, o_custkey, o_totalprice
               FROM $cat.dml.orders_rl ORDER BY o_orderkey""")
    } finally {
      s.catalog.dropTempView("q114_src")
      s.conf.unset(s"spark.sql.catalog.$cat")
      s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  private val q114Oracle =
    """WITH q AS (SELECT max(o_orderkey) // 4 AS q FROM orders)
       SELECT * FROM (
         SELECT o_orderkey,
                CASE WHEN o_orderkey % 5 = 0 AND o_orderkey <= (SELECT q FROM q)
                     THEN -1 ELSE o_custkey END AS o_custkey,
                CASE WHEN o_orderkey % 3 = 0 AND o_orderkey <= (SELECT q FROM q)
                     THEN o_totalprice * CAST(0.9 AS DOUBLE)
                     ELSE o_totalprice END AS o_totalprice
         FROM orders WHERE o_orderkey <= 3 * (SELECT q FROM q)
         UNION ALL
         SELECT -o_orderkey, -2, CAST(0.0 AS DOUBLE) FROM orders
         WHERE o_orderkey % 7 = 0 AND o_orderkey > 0
           AND o_orderkey <= (SELECT q FROM q))
       ORDER BY o_orderkey"""

  // --------------------------------------------------------------------
  // q118 — incremental materialized-view maintenance over the table
  // format: a per-supplier aggregate MV kept current across three source
  // append batches by reading ONLY the change feed (`appendsSince` — the
  // CDF scan is O(new data), never O(table)) and merging the delta
  // aggregate into the MV with a keyed `upsert` (copy-on-write touches
  // only files whose key range overlaps the delta). This is the 100 TB
  // contract for derived tables: refresh cost scales with the batch, not
  // the accumulated history — a full recompute would re-shuffle the
  // whole source every batch. Sums accumulate as DECIMAL(28,2) (exact,
  // associative — incremental addition ≡ one global sum) and convert to
  // double once at read-back, inside the Det 2^53 bound. The final MV
  // must hash-match the oracle's from-scratch aggregate over the full
  // source — proving delta-maintenance ≡ recompute.
  // --------------------------------------------------------------------
  def q118IncrementalMv(s: SparkSession, dir: String): DataFrame = {
    val root = scratch("txmv", dir)
    graft.core.Fs.rmTree(new java.io.File(root)) // fresh tables per run
    val src = new graft.medallion.GraftTable(s"$root/src")
    val mv = new graft.medallion.GraftTable(s"$root/mv")
    val dec = DecimalType(28, 2)
    val base = lake(s, dir).lineitem.select(
      col("l_orderkey"), col("l_suppkey"), col("l_quantity"), col("l_extendedprice"))
      .transform(graft.core.CacheScope.cached) // one source scan per query (r16 opt, guide §1.2/§5)
    var seen = 0L
    (0 to 2).foreach { m =>
      src.append(base.filter(col("l_orderkey") % 3 === m))
      val head = src.latestVersion()
      val deltaAgg = src.appendsSince(s, seen)
        .groupBy(col("l_suppkey"))
        .agg(
          count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast(dec).as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast(dec).as("sum_price"))
      if (seen == 0L) {
        mv.append(deltaAgg)
      } else {
        // merge currently-stored partials into the delta for TOUCHED keys
        // only; untouched MV rows (and their files, when key-disjoint)
        // are never rewritten. The MV side of the join is PRUNED to the
        // delta's key envelope first — bounds come from the source
        // log's file stats (appendsKeyBounds: zero data bytes), so the
        // refresh reads O(overlapping MV files), honoring the CDF
        // contract even when the MV itself grows huge
        val (kLo, kHi) = src.appendsKeyBounds("l_suppkey", seen)
          .getOrElse((null, null))
        val mvSide =
          if (kLo == null) mv.read(s)
          else mv.readRange(s, "l_suppkey", Some(kLo), Some(kHi))
        val merged = deltaAgg.as("d")
          .join(mvSide.as("c"), Seq("l_suppkey"), "left")
          .select(
            col("l_suppkey"),
            (coalesce(col("c.n_items"), lit(0L)) + col("d.n_items")).as("n_items"),
            (coalesce(col("c.sum_qty"), lit(0).cast(dec)) + col("d.sum_qty"))
              .cast(dec).as("sum_qty"),
            (coalesce(col("c.sum_price"), lit(0).cast(dec)) + col("d.sum_price"))
              .cast(dec).as("sum_price"))
        mv.upsert(
          merged.withColumn("_seq", lit(head)).withColumn("_deleted", lit(false)),
          "l_suppkey", "_seq")
      }
      seen = head
    }
    require(mv.latestVersion() == 3L,
      s"MV must advance one commit per batch (got ${mv.latestVersion()})")
    mv.read(s)
      .select(
        col("l_suppkey"), col("n_items"),
        col("sum_qty").cast(DoubleType).as("sum_qty"),
        col("sum_price").cast(DoubleType).as("sum_price"))
      .orderBy(col("l_suppkey"))
  }

  private val q118Oracle =
    """SELECT l_suppkey, count(*) AS n_items,
              CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey"""

  // --------------------------------------------------------------------
  // q119 — CHECK constraints + RESTORE, composed on disk: a priced table
  // gains a `price_nonneg` CHECK (validated over existing rows in one
  // scan), a valid batch lands, a violating batch is REJECTED — require'd:
  // exception raised AND head unmoved, so the no-partial-commit contract
  // is burned into the green row — then an accidental TRUNCATE is undone
  // by one RESTORE commit. The final read must hash-match the full
  // source: proving the violating batch left zero rows behind and the
  // restore recovered the pre-truncate state exactly. Enforcement and
  // validation are O(batch)/O(table-once) scans; restore is one metadata
  // commit (re-add + remove lists), no data movement at any scale.
  // --------------------------------------------------------------------
  def q119ConstraintsRestore(s: SparkSession, dir: String): DataFrame = {
    val root = s"${scratch("txcons", dir)}/orders_cons"
    graft.core.Fs.rmTree(new java.io.File(root)) // fresh table per run
    val t = new graft.medallion.GraftTable(root)
    val base = lake(s, dir).orders.select(col("o_orderkey"), col("o_totalprice"))
      .transform(graft.core.CacheScope.cached) // one source scan per query (r16 opt, guide §1.2/§5)
    t.append(base.filter(col("o_orderkey") % 2 === 0))           // v1
    t.addConstraint(s, "price_nonneg", "o_totalprice >= 0")      // v2
    t.append(base.filter(col("o_orderkey") % 2 === 1))           // v3
    val headBefore = t.latestVersion()
    val caught =
      try { t.append(base.limit(5).withColumn("o_totalprice", lit(-1.0))); false }
      catch { case _: IllegalStateException => true }
    require(caught, "violating batch must be rejected by the CHECK constraint")
    require(t.latestVersion() == headBefore,
      "a rejected batch must not commit (no partial state)")
    t.truncate()                                                 // v4: the mistake
    require(t.read(s).count() == 0L, "truncate must empty the table")
    t.restore(headBefore)                                        // v5: the undo
    t.read(s)
      .withColumn("n_constraints", lit(t.constraints.size).cast(IntegerType))
      .orderBy(col("o_orderkey"))
  }

  private val q119Oracle =
    """SELECT o_orderkey, o_totalprice, CAST(1 AS INTEGER) AS n_constraints
       FROM orders ORDER BY o_orderkey"""

  // --------------------------------------------------------------------
  // q122 — zero-copy CLONE as a fork, on disk: half the parts land in a
  // source table, cloneTo hard-links them into a fork (no data bytes
  // move), the fork diverges with the other half, then the SOURCE is
  // truncated — and the fork must still read EVERYTHING, hash-matched
  // against the full parts table, with the source's emptiness require'd
  // and carried in the output. Proves the fork owns its files (link
  // independence), carries schema+stats, and diverges without touching
  // the original — the table-management op teams use for dev/test forks
  // of production data at any size, since the clone commit is
  // O(files-metadata), never O(bytes).
  // --------------------------------------------------------------------
  def q122CloneFork(s: SparkSession, dir: String): DataFrame = {
    val root = scratch("txclone", dir)
    graft.core.Fs.rmTree(new java.io.File(root)) // fresh tables per run
    val src = new graft.medallion.GraftTable(s"$root/src")
    val base = lake(s, dir).part.select(col("p_partkey"), col("p_retailprice"))
      .transform(graft.core.CacheScope.cached) // one source scan per query (r16 opt, guide §1.2/§5)
    src.append(base.filter(col("p_partkey") % 2 === 0))      // src v1
    val fork = src.cloneTo(s"$root/fork")                    // fork v1 (links)
    fork.append(base.filter(col("p_partkey") % 2 === 1))     // fork diverges
    src.truncate()                                           // source dies
    val srcRows = src.read(s).count()
    require(srcRows == 0L, "truncated source must read empty")
    require(fork.latestVersion() == 2L,
      s"fork history is its own (got ${fork.latestVersion()})")
    fork.read(s)
      .withColumn("src_rows", lit(srcRows).cast(LongType))
      .orderBy(col("p_partkey"))
  }

  private val q122Oracle =
    """SELECT p_partkey, p_retailprice, CAST(0 AS BIGINT) AS src_rows
       FROM part ORDER BY p_partkey"""

  // --------------------------------------------------------------------
  // q124 — table MAINTENANCE driven entirely from SQL, the persona the
  // reference's query tools serve (query_datalake.py:139-146 — a user
  // who never leaves SQL): INSERT INTO lands supplier rows in four
  // small-file commits → CALL system.optimize merges them (row-neutral,
  // require'd down to one right-sized file) → a fat-finger INSERT of
  // negated keys pollutes the table → CALL system.restore rewinds to
  // the pre-mistake version → CALL system.checkpoint + system.vacuum
  // retire the dead files. The final read-back must hash-match the
  // oracle's plain supplier projection — proving the whole maintenance
  // cycle is row-identical — with the procedures' own result rows
  // (files compacted, restore target) require'd in passing. Scale: each
  // CALL is one transactional commit; optimize rewrites only the files
  // it merges, vacuum deletes only unreachable names — both
  // O(touched), never O(table).
  // --------------------------------------------------------------------
  def q124SqlMaintenance(s: SparkSession, dir: String): DataFrame = {
    val wh = s"${scratch("sqlmaint", dir)}/warehouse"
    graft.core.Fs.rmTree(new java.io.File(wh))
    val cat = s"gq124_${math.abs(wh.hashCode).toString.take(8)}"
    graft.api.Graft.registerCatalog(s, cat, wh)
    try {
      graft.core.CacheScope.cached(lake(s, dir).supplier
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal")))
        .createOrReplaceTempView("q124_src") // 5 INSERT scans serve from one read (r16 opt)
      s.sql(s"CREATE TABLE $cat.m.sup (s_suppkey BIGINT, s_nationkey BIGINT, s_acctbal DOUBLE)")
      (0 to 3).foreach(i => s.sql(
        s"""INSERT INTO $cat.m.sup
           SELECT s_suppkey, s_nationkey, s_acctbal FROM q124_src
           WHERE s_suppkey % 4 = $i"""))
      val t = new graft.medallion.GraftTable(s"$wh/m/sup")
      require(t.snapshot().files.size == 4, "four small-file commits")
      val opt = s.sql(s"CALL $cat.system.optimize(table => 'm.sup')").head()
      require(opt.getString(0) == "compact" && opt.getInt(1) == 4 &&
        opt.getInt(2) == 1, s"optimize must merge 4 files into 1: $opt")
      val goodV = t.latestVersion()
      s.sql(s"""INSERT INTO $cat.m.sup
               SELECT -s_suppkey, s_nationkey, s_acctbal FROM q124_src""")
      val res = s.sql(
        s"CALL $cat.system.restore(table => 'm.sup', version => $goodV)").head()
      require(res.getLong(0) == goodV, "restore targets the pre-mistake version")
      s.sql(s"CALL $cat.system.checkpoint(table => 'm.sup')")
      // retain 1 keeps only {restore-head, fat-finger} versions
      // reachable, so exactly the four pre-compact small files are
      // unreachable and leave the disk; the live snapshot reads on
      val del = s.sql(
        s"CALL $cat.system.vacuum(table => 'm.sup', retain_versions => 1)").head()
      require(del.getInt(0) == 4, s"the 4 pre-compact files go: $del")
      s.sql(s"""SELECT s_suppkey, s_nationkey, s_acctbal FROM $cat.m.sup
               ORDER BY s_suppkey""")
    } finally {
      s.catalog.dropTempView("q124_src")
      s.conf.unset(s"spark.sql.catalog.$cat")
      s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  private val q124Oracle =
    """SELECT s_suppkey, s_nationkey, s_acctbal FROM supplier
       ORDER BY s_suppkey"""

  // --------------------------------------------------------------------
  // q125 — TIMESTAMP AS OF time travel: every commit stamps its wall-
  // clock time into the log's info line (file mtimes don't survive
  // copies; the log entry does), and the catalog resolves a timestamp
  // to the greatest stamped version with commit-time ≤ t — monotonized
  // in version order, so a clock step-back can never make a later
  // version resolve as earlier. Two INSERT batches with a captured
  // instant between them; reading AS OF that instant must see exactly
  // batch one, AS OF "now" both — each branch tagged and unioned, the
  // whole thing oracle-derivable from the batch predicates.
  // Deterministic at any wall-clock because the probe instants are
  // captured relative to the commits themselves. Scale: resolution
  // reads O(commits) info lines, no data files.
  // --------------------------------------------------------------------
  def q125TimestampTravel(s: SparkSession, dir: String): DataFrame = {
    val wh = s"${scratch("tstravel", dir)}/warehouse"
    graft.core.Fs.rmTree(new java.io.File(wh))
    val cat = s"gq125_${math.abs(wh.hashCode).toString.take(8)}"
    graft.api.Graft.registerCatalog(s, cat, wh)
    try {
      lake(s, dir).nation
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .createOrReplaceTempView("q125_src")
      s.sql(s"CREATE TABLE $cat.t.nat (n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT)")
      s.sql(s"""INSERT INTO $cat.t.nat
               SELECT n_nationkey, n_name, n_regionkey FROM q125_src
               WHERE n_regionkey < 2""")
      // the instant between the batches comes from the COMMIT's own
      // stamp, not a sleep: ≥ batch-1's time and (strictly, because
      // resolution monotonizes) < batch-2's — no race at any clock skew
      val t = new graft.medallion.GraftTable(s"$wh/t/nat")
      val betweenMs = t.historyFull().head._5.get
      Thread.sleep(5) // batch 2 must stamp strictly later
      s.sql(s"""INSERT INTO $cat.t.nat
               SELECT n_nationkey, n_name, n_regionkey FROM q125_src
               WHERE n_regionkey >= 2""")
      val afterMs = t.historyFull().head._5.get
      // literal rendered explicitly in UTC — the session timezone the
      // factory pins — NOT via Timestamp.toString, which uses the JVM
      // default zone and would shift the instant on a non-UTC machine
      def lit(ms: Long): String = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(ms))
      s.sql(s"""SELECT 'asof_batch1' AS branch, n_nationkey, n_name, n_regionkey
               FROM $cat.t.nat TIMESTAMP AS OF '${lit(betweenMs)}'
               UNION ALL
               SELECT 'asof_head', n_nationkey, n_name, n_regionkey
               FROM $cat.t.nat TIMESTAMP AS OF '${lit(afterMs)}'
               ORDER BY branch, n_nationkey""")
    } finally {
      s.catalog.dropTempView("q125_src")
      s.conf.unset(s"spark.sql.catalog.$cat")
      s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  private val q125Oracle =
    """SELECT 'asof_batch1' AS branch, n_nationkey, n_name, n_regionkey
       FROM nation WHERE n_regionkey < 2
       UNION ALL
       SELECT 'asof_head', n_nationkey, n_name, n_regionkey FROM nation
       ORDER BY branch, n_nationkey"""

  // --------------------------------------------------------------------
  // q127 — per-file BLOOM skipping on a point lookup: orders land in 6
  // round-robin key slices (every file's [min,max] covers any mid-range
  // key, so min/max stats prune NOTHING for a point probe — the exact
  // shape of a lookup by id/hash on an unclustered 100 TB table), the
  // `bloom.columns` property arms 1 KiB per-file filters, and the
  // mid-key SELECT must then plan ≤2 of the 6 files (require'd into the
  // green row) while hash-matching the oracle's plain scalar-subquery
  // lookup. False positives cost IO; a false negative would be a wrong
  // answer — the hash match certifies there is none.
  // --------------------------------------------------------------------
  def q127BloomLookup(s: SparkSession, dir: String): DataFrame = {
    val root = scratch("bloom", dir)
    graft.core.Fs.rmTree(new java.io.File(root))
    val t = new graft.medallion.GraftTable(s"$root/orders")
    // a 1-in-97 key subset keeps per-file cardinality inside the
    // DEFAULT 1 KiB bloom's design load at every test scale factor —
    // a production table sizes `bloom.bits` to its file row counts
    // instead (probe side adapts per stored bitset)
    val base = lake(s, dir).orders
      .filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .transform(graft.core.CacheScope.cached) // one source scan per query (r16 opt, guide §1.2/§5)
    t.append(base.limit(0))                          // v1: schema only
    t.setProperty(graft.medallion.TxLog.BloomColumnsProp, "o_orderkey")
    // 64 Kib per file: ~10 bits per expected key at the largest test
    // scale factor — the sizing rule a production table applies
    t.setProperty(graft.medallion.TxLog.BloomBitsProp, "65536")
    // order-free slices: overlapped appends (guide §2.6, see appendSlices)
    appendSlices(t, (0 until 6).map(f =>
      base.filter(col("o_orderkey") % 6 === f).repartition(1)))
    // a PRESENT mid-range key, derived deterministically from the data
    // (the same two scalar steps the oracle replays): max key, halved,
    // then the greatest existing key at or below it
    val maxRow = base.agg(max(col("o_orderkey"))).head()
    require(!maxRow.isNullAt(0), "q127 needs at least one key ≡ 0 (mod 97)")
    val maxKey = maxRow.getLong(0)
    val midKey = base.filter(col("o_orderkey") <= maxKey / 2)
      .agg(max(col("o_orderkey"))).head().getLong(0)
    val admitted = t.filesForRange("o_orderkey", Some(midKey), Some(midKey))
    require(admitted <= 2,
      s"bloom must prune the 6 overlapping slices to ~1 file, got $admitted")
    t.readRange(s, "o_orderkey", Some(midKey), Some(midKey))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  private val q127Oracle =
    """WITH sub AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
                   WHERE o_orderkey % 97 = 0)
       SELECT o_orderkey, o_custkey, o_totalprice FROM sub
       WHERE o_orderkey = (
         SELECT max(o_orderkey) FROM sub
         WHERE o_orderkey <= (SELECT max(o_orderkey) FROM sub) // 2)
       ORDER BY o_orderkey"""

  // --------------------------------------------------------------------
  // q128 — DELETION VECTORS (merge-on-read DELETE): orders land in 4
  // round-robin key slices, then a scattered predicate delete
  // (`o_orderkey % 7 = 3` — touches every file) commits as per-file
  // row-index bitmaps with ZERO files rewritten (require'd: the live
  // file set is byte-identical before and after). This is the GDPR /
  // right-to-be-forgotten shape that copy-on-write turns into a
  // full-table rewrite at 100 TB and a DV commit turns into metadata.
  // The DV'd read must hash-match the oracle's plain anti-predicate —
  // proving no deleted row survives and no surviving row is lost — then
  // CALL-equivalent purgeDeletes materializes the bitmaps (row-neutral,
  // require'd DV-free) and the FINAL read is what the driver hashes,
  // with the pre-purge row count carried as a column (purge ≡ no-op on
  // rows). Scale: the delete reads the table once and writes only
  // bitmaps; every reader's DV side is bounded by the dv.maxBytes /
  // dv.maxFraction triage that falls back to rewriting a too-deleted
  // file.
  // --------------------------------------------------------------------
  def q128DeletionVectors(s: SparkSession, dir: String): DataFrame = {
    val root = scratch("dvdel", dir)
    graft.core.Fs.rmTree(new java.io.File(root))
    val t = new graft.medallion.GraftTable(s"$root/orders")
    val base = lake(s, dir).orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .transform(graft.core.CacheScope.cached) // one source scan per query (r16 opt, guide §1.2/§5)
    // order-free slices: overlapped appends (guide §2.6, see appendSlices)
    appendSlices(t, (0 until 4).map(f =>
      base.filter(col("o_orderkey") % 4 === f).repartition(1)))
    val filesBefore = t.snapshot().files.map(_.path).toSet
    val (dvFiles, rewrites, deleted, _) = t.deleteRows(s, "o_orderkey % 7 = 3")
    require(rewrites == 0 && dvFiles >= 1,
      s"a scattered sparse delete must vectorize, not rewrite " +
        s"(dv=$dvFiles rewrites=$rewrites)")
    val snap = t.snapshot()
    require(snap.files.map(_.path).toSet == filesBefore,
      "merge-on-read DELETE must not move a single data byte")
    require(snap.files.map(_.dvRows).sum == deleted,
      "bitmap cardinalities must account for every deleted row")
    val prePurge = t.read(s).count()
    val (purged, _, _) = t.purgeDeletes(s)
    require(purged == dvFiles, "purge rewrites exactly the DV'd files")
    require(t.snapshot().files.forall(_.dv.isEmpty),
      "purge must retire every bitmap")
    t.read(s)
      .withColumn("pre_purge_rows", lit(prePurge).cast(LongType))
      .orderBy(col("o_orderkey"))
  }

  private val q128Oracle =
    """SELECT o_orderkey, o_custkey, o_totalprice,
              (SELECT count(*) FROM orders WHERE o_orderkey % 7 <> 3)
                AS pre_purge_rows
       FROM orders WHERE o_orderkey % 7 <> 3
       ORDER BY o_orderkey"""

  // --------------------------------------------------------------------
  // q171 — COLUMNAR deletion-vector scan (round 16): lineitem lands in
  // two files, a predicate delete DVs rows of the FIRST only, and the
  // aggregate over the survivors is require'd to plan a fully COLUMNAR
  // BatchScan — the DV'd file serves its vectorized batches through the
  // zero-copy SelectedColumnVector index remap (deleted rows drop out,
  // untouched batches pass through on one rangeCardinality probe) while
  // the clean sibling keeps its pushed-filter fast path, instead of one
  // deleted row row-forcing the whole table (the pre-round-16 shape,
  // which fails this guard). The grouped sums then hash-match the
  // oracle's plain anti-predicate — deleted rows excluded, surviving
  // values bit-exact through the remap. Scale: at 100 TB this is the
  // difference between a GDPR delete costing a table-wide
  // InternalRow-materialization tax on every subsequent scan and
  // costing one bitmap probe per 4096-row batch.
  // --------------------------------------------------------------------
  def q171DvColumnarScan(s: SparkSession, dir: String): DataFrame = {
    val root = scratch("dvcolscan", dir)
    graft.core.Fs.rmTree(new java.io.File(root))
    val t = new graft.medallion.GraftTable(s"$root/lineitem")
    val base = lake(s, dir).lineitem
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"))
      .transform(graft.core.CacheScope.cached) // one source scan per query (r16 opt, guide §1.2/§5)
    t.append(base.filter(col("l_orderkey") % 2 === 0).repartition(1))
    t.append(base.filter(col("l_orderkey") % 2 === 1).repartition(1))
    val (dvFiles, rewrites, deleted, _) =
      t.deleteRows(s, "l_orderkey % 2 = 0 AND l_partkey % 5 = 2")
    require(rewrites == 0 && dvFiles == 1 && deleted > 0,
      s"the sparse delete must land as ONE file's bitmap " +
        s"(dv=$dvFiles rewrites=$rewrites deleted=$deleted)")
    val snap = t.snapshot()
    require(snap.files.size == 2 && snap.files.count(_.dv.isDefined) == 1,
      "exactly one of the two files must carry a deletion vector")
    // the DSv2 connector read — the path whose partition planning
    // serves DVs columnar
    val out = s.read.format("graft-table").option("path", t.tablePath).load()
      .groupBy((col("l_partkey") % 11).as("bucket"))
      .agg(count(lit(1)).as("n"),
        Det.dsum(col("l_quantity")).as("qty"),
        Det.dsum(col("l_extendedprice")).as("revenue"))
      .orderBy(col("bucket"))
    // in-query guard (initial plan — never executes the query): BOTH
    // files must plan columnar, the DV'd one via the positional idx
    // partitions; the pre-round-16 row-forced shape fails here
    val scans = graft.plans.AdaptivePlans.collectDeep(out) {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    require(scans.nonEmpty && scans.forall(_.supportsColumnar),
      "the DV'd scan must keep vectorized columnar reads (selection remap)")
    require(scans.exists(_.inputPartitions.exists(
      _.isInstanceOf[graft.streaming.GraftIdxPartition])),
      "the DV'd file must plan as a positional idx partition")
    out
  }

  private val q171Oracle =
    """WITH live AS (
         SELECT l_partkey, l_quantity, l_extendedprice FROM lineitem
         WHERE NOT (l_orderkey % 2 = 0 AND l_partkey % 5 = 2))
       SELECT l_partkey % 11 AS bucket,
              CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                AS revenue
       FROM live GROUP BY 1 ORDER BY 1"""

  // --------------------------------------------------------------------
  // q129 — SQL DELETE routed merge-on-read: a catalog table opts in via
  // `delete.mode = merge-on-read` TBLPROPERTIES, and a DELETE whose
  // predicate is NOT a metadata range (strict inequality OR'd with an
  // IN-set) lands as one deletion-vector commit — require'd: the live
  // file set is unchanged and at least one bitmap exists. COUNT(*)
  // afterwards must STILL answer from the log alone (the LocalScan plan
  // is require'd — per-file effectiveRows keeps metadata counts exact
  // under DVs) and carry the same number the oracle derives. The final
  // SELECT hash-matches the anti-predicate. Scale: the SQL-only persona
  // gets the same O(metadata) delete as the Scala API; MIN/MAX-style
  // aggregates deliberately fall back to real scans while DVs exist
  // (a deleted row may have held the extreme).
  // --------------------------------------------------------------------
  def q129SqlMorDelete(s: SparkSession, dir: String): DataFrame = {
    val wh = s"${scratch("sqlmor", dir)}/warehouse"
    graft.core.Fs.rmTree(new java.io.File(wh))
    val cat = s"gq129_${math.abs(wh.hashCode).toString.take(8)}"
    graft.api.Graft.registerCatalog(s, cat, wh)
    try {
      graft.core.CacheScope.cached(lake(s, dir).customer
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment")))
        .createOrReplaceTempView("q129_src") // 3 INSERT scans serve from one read (r16 opt)
      s.sql(s"CREATE TABLE $cat.d.cust (c_custkey BIGINT, c_acctbal DOUBLE, c_mktsegment STRING)")
      (0 to 2).foreach(i => s.sql(
        s"""INSERT INTO $cat.d.cust
           SELECT c_custkey, c_acctbal, c_mktsegment FROM q129_src
           WHERE c_custkey % 3 = $i"""))
      s.sql(s"ALTER TABLE $cat.d.cust SET TBLPROPERTIES " +
        s"('${graft.medallion.TxLog.DeleteModeProp}' = " +
        s"'${graft.medallion.TxLog.DeleteModeMor}')")
      val t = new graft.medallion.GraftTable(s"$wh/d/cust")
      val filesBefore = t.snapshot().files.map(_.path).toSet
      s.sql(s"""DELETE FROM $cat.d.cust
               WHERE c_acctbal < 0.0 OR c_mktsegment IN ('MACHINERY')""")
      val snap = t.snapshot()
      require(snap.files.map(_.path).toSet == filesBefore,
        "merge-on-read SQL DELETE must not stage or rewrite data files")
      require(snap.files.exists(_.dv.isDefined),
        "the delete must have landed as deletion vectors")
      val cnt = s.sql(s"SELECT count(*) AS live_rows FROM $cat.d.cust")
      require(cnt.queryExecution.executedPlan.toString
          .contains("LocalTableScan"),
        "COUNT(*) must stay a zero-scan metadata aggregate under DVs")
      val liveRows = cnt.head().getLong(0)
      s.sql(s"""SELECT c_custkey, c_acctbal, c_mktsegment,
                       CAST($liveRows AS BIGINT) AS live_rows
               FROM $cat.d.cust ORDER BY c_custkey""")
    } finally {
      s.catalog.dropTempView("q129_src")
      s.conf.unset(s"spark.sql.catalog.$cat")
      s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  private val q129Oracle =
    """WITH live AS (
         SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
         WHERE NOT (c_acctbal < 0.0 OR c_mktsegment IN ('MACHINERY')))
       SELECT c_custkey, c_acctbal, c_mktsegment,
              (SELECT count(*) FROM live) AS live_rows
       FROM live ORDER BY c_custkey"""

  // --------------------------------------------------------------------
  // q130 — CHANGE DATA FEED round trip through the SQL surface: orders
  // land in a `cdf.enabled` table, then three mutation classes commit —
  // a CDC upsert (updates + key-deletes + inserts), a transactional
  // range DELETE, and a merge-on-read deletion-vector DELETE — and the
  // WHOLE feed is read back with the `graft_table_changes` table
  // function (the Delta `table_changes` TVF shape, injected via
  // SparkSessionExtensions). Every feed row is NET change only: rows
  // carried through a rewrite cancel, metadata-only drops ride as
  // zero-write `cdcfull` refs (the removed file's own bytes serve as
  // the delete rows), and the MOR delete stages exactly the matched
  // rows. The oracle recomputes each commit's change set from the base
  // table with window-free set algebra, so a hash match proves the log
  // attributed every insert/delete to the right commit. Scale: the feed
  // read is O(changes in range) — staged diffs + referenced files —
  // never O(table).
  // --------------------------------------------------------------------
  def q130ChangeFeed(s: SparkSession, dir: String): DataFrame = {
    val root = scratch("cdf", dir)
    graft.core.Fs.rmTree(new java.io.File(root))
    val t = new graft.medallion.GraftTable(s"$root/orders")
    val base = lake(s, dir).orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .transform(graft.core.CacheScope.cached) // one source scan per query (r16 opt, guide §1.2/§5)
    // order-free slices: overlapped appends (guide §2.6, see appendSlices)
    appendSlices(t, (0 until 4).map(f =>
      base.filter(col("o_orderkey") % 4 === f).repartition(1)))
    t.setProperty(graft.medallion.TxLog.CdfEnabledProp, "true")
    val vProps = t.latestVersion()
    // commit 1: CDC upsert — bump price for keys %11=0, drop keys %13=7
    val isUpd = col("o_orderkey") % 11 === 0
    val isDel = col("o_orderkey") % 13 === 7 && col("o_orderkey") % 11 =!= 0
    t.upsert(
      base.filter(isUpd || isDel).select(
        col("o_orderkey"), col("o_custkey"),
        when(isUpd, col("o_totalprice") + 1000.0)
          .otherwise(col("o_totalprice")).as("o_totalprice"),
        lit(1L).as("_seq"), isDel.as("_deleted")),
      "o_orderkey", "_seq")
    // commit 2: transactional range delete
    t.delete(s, "o_orderkey", Some(100L), Some(299L))
    // commit 3: scattered merge-on-read delete (deletion vectors)
    val (dvFiles, _, _, _) = t.deleteRows(s, "o_orderkey % 19 = 3")
    require(dvFiles >= 1, "the scattered delete must vectorize at least one file")
    graft.engine.GraftFunctions.register(s)
    s.sql(
      s"""SELECT CAST(_commit_version - $vProps AS INT) AS op, _change_type,
                 o_orderkey, o_custkey, o_totalprice
          FROM graft_table_changes('${t.tablePath}', $vProps)
          ORDER BY op, _change_type, o_orderkey""")
  }

  private val q130Oracle =
    """WITH base AS (
         SELECT o_orderkey AS k, o_custkey AS c, o_totalprice AS p FROM orders),
       upd AS (SELECT * FROM base WHERE k % 11 = 0),
       del1 AS (SELECT * FROM base WHERE k % 13 = 7 AND k % 11 <> 0),
       state1 AS (
         SELECT k, c, CASE WHEN k % 11 = 0 THEN p + 1000.0 ELSE p END AS p
         FROM base WHERE NOT (k % 13 = 7 AND k % 11 <> 0)),
       rdel AS (SELECT * FROM state1 WHERE k BETWEEN 100 AND 299),
       state2 AS (SELECT * FROM state1 WHERE k NOT BETWEEN 100 AND 299),
       mdel AS (SELECT * FROM state2 WHERE k % 19 = 3),
       feed AS (
         SELECT 1 AS op, 'delete' AS ct, k, c, p FROM upd
         UNION ALL SELECT 1, 'delete', k, c, p FROM del1
         UNION ALL SELECT 1, 'insert', k, c, p + 1000.0 FROM upd
         UNION ALL SELECT 2, 'delete', k, c, p FROM rdel
         UNION ALL SELECT 3, 'delete', k, c, p FROM mdel)
       SELECT op, ct AS _change_type, k AS o_orderkey, c AS o_custkey,
              p AS o_totalprice
       FROM feed ORDER BY op, _change_type, o_orderkey"""

  // --------------------------------------------------------------------
  // q131 — incremental MV maintenance over the FULL change feed: where
  // q118's MV folds appends only, this per-customer aggregate stays
  // current across UPDATES and DELETES too — each refresh reads
  // `readChangeFeed` (O(changes)), folds it into a signed delta
  // (+row/-row, +cents/-cents), and upserts touched keys into the MV,
  // dropping keys whose row count reaches zero. Money rides as BIGINT
  // cents so incremental addition is exact and associative (delta
  // maintenance ≡ recompute, bit-for-bit). The final MV must hash-match
  // the oracle's from-scratch aggregate over the post-mutation state —
  // proving the feed's net-change contract composes: upsert pairs,
  // zero-write range-delete refs, and append inserts all fold into the
  // same numbers a full rescan yields. Scale: refresh cost is
  // O(feed ∪ touched MV files); the MV is never rescanned.
  // --------------------------------------------------------------------
  def q131CdfMv(s: SparkSession, dir: String): DataFrame = {
    val root = scratch("cdfmv", dir)
    graft.core.Fs.rmTree(new java.io.File(root))
    val src = new graft.medallion.GraftTable(s"$root/src")
    val mv = new graft.medallion.GraftTable(s"$root/mv")
    val base = lake(s, dir).orders.select(
      col("o_orderkey"), col("o_custkey"),
      round(col("o_totalprice") * 100).cast(LongType).as("cents"))
      .transform(graft.core.CacheScope.cached) // one source scan per query (r16 opt, guide §1.2/§5)
    src.create(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("o_orderkey", LongType),
      org.apache.spark.sql.types.StructField("o_custkey", LongType),
      org.apache.spark.sql.types.StructField("cents", LongType))))
    src.setProperty(graft.medallion.TxLog.CdfEnabledProp, "true")
    var seen = src.latestVersion()
    def refresh(): Unit = {
      val head = src.latestVersion()
      val delta = src.readChangeFeed(s, seen, head)
        .select(col("o_custkey"),
          when(col("_change_type") === "insert", 1L).otherwise(-1L).as("sgn"),
          col("cents"))
        .groupBy("o_custkey")
        .agg(sum(col("sgn")).as("dn"), sum(col("sgn") * col("cents")).as("dc"))
      if (mv.latestVersion() == 0L) {
        mv.append(delta.select(
          col("o_custkey"), col("dn").as("n_orders"), col("dc").as("sum_cents")))
      } else {
        val merged = delta.as("d")
          .join(mv.read(s).as("c"), Seq("o_custkey"), "left")
          .select(
            col("o_custkey"),
            (coalesce(col("c.n_orders"), lit(0L)) + col("d.dn")).as("n_orders"),
            (coalesce(col("c.sum_cents"), lit(0L)) + col("d.dc")).as("sum_cents"))
        mv.upsert(
          merged.withColumn("_seq", lit(head))
            .withColumn("_deleted", col("n_orders") === 0L),
          "o_custkey", "_seq")
      }
      seen = head
    }
    // two append batches, then an update/delete CDC batch, then a range
    // delete — the MV refreshes after each from the feed alone
    src.append(base.filter(col("o_orderkey") % 2 === 0)); refresh()
    src.append(base.filter(col("o_orderkey") % 2 === 1)); refresh()
    val isUpd = col("o_orderkey") % 11 === 0
    val isDel = col("o_orderkey") % 13 === 7 && col("o_orderkey") % 11 =!= 0
    src.upsert(
      base.filter(isUpd || isDel).select(
        col("o_orderkey"), col("o_custkey"),
        when(isUpd, col("cents") + 500L).otherwise(col("cents")).as("cents"),
        lit(9L).as("_seq"), isDel.as("_deleted")),
      "o_orderkey", "_seq"); refresh()
    src.delete(s, "o_orderkey", Some(100L), Some(499L)); refresh()
    mv.read(s).orderBy(col("o_custkey"))
  }

  private val q131Oracle =
    """WITH base AS (
         SELECT o_orderkey AS k, o_custkey AS c,
                CAST(round(o_totalprice * 100) AS BIGINT) AS cents
         FROM orders),
       s1 AS (
         SELECT k, c, CASE WHEN k % 11 = 0 THEN cents + 500 ELSE cents END AS cents
         FROM base WHERE NOT (k % 13 = 7 AND k % 11 <> 0)),
       s2 AS (SELECT * FROM s1 WHERE k NOT BETWEEN 100 AND 499)
       SELECT c AS o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
              CAST(sum(cents) AS BIGINT) AS sum_cents
       FROM s2 GROUP BY c ORDER BY o_custkey"""

  // --------------------------------------------------------------------
  // q133 — CDC REPLICATION off the streaming change feed: a silver
  // replica of a mutating bronze table is maintained by NOTHING but
  // `readStream.option("readChangeFeed", "true")` + a keyed upsert per
  // micro-batch — the cross-region/warehouse replication shape Delta
  // CDF exists for. Bronze takes appends, a CDC upsert
  // (updates + key deletes), a deletion-vector delete, and a range
  // delete; the stream (capped at 2 commits per trigger, so several
  // micro-batches really happen) folds each feed batch into the replica
  // with seq = 2·version + isInsert — the +1 makes an update's insert
  // beat its delete WITHIN one commit while preserving cross-commit
  // order. Replica ≡ source is require'd (both exceptAll directions)
  // and the replica hash-matches the oracle's end state. Scale: each
  // refresh moves O(feed batch) rows and rewrites only key-overlapping
  // replica files; checkpointed offsets are table versions, so restarts
  // re-fold at most one batch — and the keyed upsert makes that replay
  // idempotent.
  //
  // Wall-time root cause (round-9 profile at sf0.1, warm): the ~8-9 s
  // median is 6 commits + 3 micro-batches of IRREDUCIBLE commit
  // protocol, not a scan/shuffle flaw — upsert 2.3 s, range delete
  // 1.6 s, batches 1.4+1.3+0.7 s, deleteRows 0.7 s, proof 0.8 s. The
  // upsert/batches are full-width BY CONSTRUCTION: the %11/%13 key
  // pattern overlaps every file's key range, so file-granular COW
  // correctly rewrites the whole table (a real workload's keys cluster;
  // this query deliberately exercises the worst case plus the restart
  // path). Each phase is 3-5 fixed-overhead Spark jobs (stage, stats,
  // feed diff, commit) on ~150k rows — job latency, not data volume.
  // Round 9 shaved the reducible parts: the feed diff is ONE signed-
  // count aggregate (was a two-sided exceptAll scanning each state
  // twice) and the final proof caches both sides.
  // --------------------------------------------------------------------
  def q133CdcReplication(s: SparkSession, dir: String): DataFrame = {
    val root = scratch("cdcrepl", dir)
    graft.core.Fs.rmTree(new java.io.File(root))
    val bronzePath = s"$root/bronze"
    val bronze = new graft.medallion.GraftTable(bronzePath)
    val silver = new graft.medallion.GraftTable(s"$root/silver")
    val base = lake(s, dir).orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .transform(graft.core.CacheScope.cached) // one source scan per query (r16 opt, guide §1.2/§5)
    bronze.append(base.filter(col("o_orderkey") % 2 === 0))            // v1
    bronze.setProperty(graft.medallion.TxLog.CdfEnabledProp, "true")   // v2
    bronze.append(base.filter(col("o_orderkey") % 2 === 1))            // v3
    // the replica folds copy-on-write here: at sf0.1's file sizes the
    // merge-on-read upsert's extra fixed-cost jobs (tagged position
    // scan + bitmap aggregate per micro-batch) outweigh the bytes it
    // saves — measured 8.1 s COW vs 9.9 s MOR. The crossover is file
    // size: a production replica whose files dwarf its batches sets
    // `update.mode = merge-on-read` on silver and each refresh commits
    // batch-sized DVs + image appends instead of re-staging every
    // key-overlapping file (MergeOnReadDmlSpec's keyed-upsert tests).
    val isUpd = col("o_orderkey") % 11 === 0
    val isDel = col("o_orderkey") % 13 === 7 && col("o_orderkey") % 11 =!= 0
    bronze.upsert(                                                     // v4
      base.filter(isUpd || isDel).select(
        col("o_orderkey"), col("o_custkey"),
        when(isUpd, col("o_totalprice") + 1000.0)
          .otherwise(col("o_totalprice")).as("o_totalprice"),
        lit(1L).as("_seq"), isDel.as("_deleted")),
      "o_orderkey", "_seq")
    bronze.deleteRows(s, "o_orderkey % 19 = 3")                        // v5
    bronze.delete(s, "o_orderkey", Some(100L), Some(499L))             // v6
    val fold: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, _) => {
        silver.upsert(
          batch.select(
            col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            (col("_commit_version") * 2 +
              when(col("_change_type") === "insert", 1L).otherwise(0L))
              .as("_seq"),
            (col("_change_type") === "delete").as("_deleted")),
          "o_orderkey", "_seq")
        ()
      }
    s.readStream.format("graft-table")
      .option("path", bronzePath)
      .option("readChangeFeed", "true")
      .option("maxVersionsPerTrigger", "2")
      .load()
      .writeStream.foreachBatch(fold)
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val cols = Seq("o_orderkey", "o_custkey", "o_totalprice").map(col)
    // equality proof as ONE signed-count aggregate (the cdcDiff trick:
    // replica rows weigh +1, source rows -1, equal multisets cancel to
    // 0 everywhere; groupBy's null-safe equality matches exceptAll's) —
    // round 16: replaces the two-sided exceptAll + two cached
    // materializations (5 jobs) with a single job over both scans
    val replica = graft.core.CacheScope.cached(silver.read(s).select(cols: _*))
    val mismatch = replica.withColumn("__w", lit(1L))
      .unionAll(bronze.read(s).select(cols: _*).withColumn("__w", lit(-1L)))
      .groupBy(cols: _*).agg(sum(col("__w")).as("__d"))
      .filter(col("__d") =!= 0L)
    require(mismatch.isEmpty,
      "the feed-maintained replica must equal the source exactly")
    replica.orderBy(col("o_orderkey"))
  }

  private val q133Oracle =
    """WITH base AS (
         SELECT o_orderkey AS k, o_custkey AS c, o_totalprice AS p FROM orders),
       s1 AS (
         SELECT k, c, CASE WHEN k % 11 = 0 THEN p + 1000.0 ELSE p END AS p
         FROM base WHERE NOT (k % 13 = 7 AND k % 11 <> 0)),
       s2 AS (SELECT * FROM s1 WHERE NOT (k % 19 = 3)),
       s3 AS (SELECT * FROM s2 WHERE k NOT BETWEEN 100 AND 499)
       SELECT k AS o_orderkey, c AS o_custkey, p AS o_totalprice
       FROM s3 ORDER BY o_orderkey"""

  // --------------------------------------------------------------------
  // q134 — CDF UPDATE IMAGES: the feed nets an upsert's updates into
  // delete+insert pairs (right for folds, q131/q133); Delta consumers
  // instead expect `update_preimage`/`update_postimage` tags. The
  // 4-argument `graft_table_changes(path, since, until, true)` re-pairs
  // a commit's rows per the commit's RECORDED merge key: keys carrying
  // both a delete and an insert within one upsert commit re-tag as
  // images; unpaired deletes (key drops) and inserts (new keys) keep
  // their net tags. The oracle rebuilds all four tag classes with
  // window-free set algebra, so a hash match proves the pairing uses
  // exactly the commit's key — not value coincidence. Scale: ONE extra
  // hash-partition window over the O(changes) feed; never O(table).
  // --------------------------------------------------------------------
  def q134CdfUpdateImages(s: SparkSession, dir: String): DataFrame = {
    val root = scratch("cdfimg", dir)
    graft.core.Fs.rmTree(new java.io.File(root))
    val t = new graft.medallion.GraftTable(s"$root/orders")
    val base = lake(s, dir).orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .transform(graft.core.CacheScope.cached) // one source scan per query (r16 opt, guide §1.2/§5)
    // order-free slices: overlapped appends (guide §2.6, see appendSlices)
    appendSlices(t, (0 until 4).map(f =>
      base.filter(col("o_orderkey") % 4 === f).repartition(1)))
    t.setProperty(graft.medallion.TxLog.CdfEnabledProp, "true")
    val v0 = t.latestVersion()
    // one upsert commit carrying all three mutation classes: updates
    // (%7=0 price bump), key drops (%13=2), and brand-new keys
    val isUpd = col("o_orderkey") % 7 === 0
    val isDel = col("o_orderkey") % 13 === 2 && col("o_orderkey") % 7 =!= 0
    val updDel = base.filter(isUpd || isDel).select(
      col("o_orderkey"), col("o_custkey"),
      when(isUpd, col("o_totalprice") + 500.0)
        .otherwise(col("o_totalprice")).as("o_totalprice"),
      lit(1L).as("_seq"), isDel.as("_deleted"))
    val fresh = base.filter(col("o_orderkey") % 17 === 5).select(
      (col("o_orderkey") + 2000000L).as("o_orderkey"), col("o_custkey"),
      col("o_totalprice"), lit(1L).as("_seq"), lit(false).as("_deleted"))
    t.upsert(updDel.unionAll(fresh), "o_orderkey", "_seq")
    graft.engine.GraftFunctions.register(s)
    s.sql(
      s"""SELECT _change_type, o_orderkey, o_custkey, o_totalprice
          FROM graft_table_changes('${t.tablePath}', $v0, ${v0 + 1}, true)
          ORDER BY _change_type, o_orderkey""")
  }

  private val q134Oracle =
    """WITH base AS (
         SELECT o_orderkey AS k, o_custkey AS c, o_totalprice AS p FROM orders),
       upd AS (SELECT * FROM base WHERE k % 7 = 0),
       del AS (SELECT * FROM base WHERE k % 13 = 2 AND k % 7 <> 0),
       ins AS (SELECT k + 2000000 AS k, c, p FROM base WHERE k % 17 = 5),
       feed AS (
         SELECT 'update_preimage' AS ct, k, c, p FROM upd
         UNION ALL SELECT 'update_postimage', k, c, p + 500.0 FROM upd
         UNION ALL SELECT 'delete', k, c, p FROM del
         UNION ALL SELECT 'insert', k, c, p FROM ins)
       SELECT ct AS _change_type, k AS o_orderkey, c AS o_custkey,
              p AS o_totalprice
       FROM feed ORDER BY _change_type, o_orderkey"""

  // --------------------------------------------------------------------
  // q136 — HIDDEN PARTITIONING (Iceberg transform partitioning, spec
  // §Partitioning, realised as derived per-file stats — see
  // PartitionSpec.scala): events ingest under
  // `partition.spec = days(ts), bucket(16,user_id)` — the append
  // range-clusters by the transform tuple, and each file records
  // min/max of the TRANSFORMED values as ordinary stats. Two probes,
  // both require'd to prune: a 3-day window (users filter raw `ts`;
  // pruning happens on `days(ts)` — the "hidden" contract) and a
  // user-id point lookup (bucket pruning via the same xxhash64 the
  // writer used). Bounds derive deterministically from the data
  // (mid-span day, greatest user ≤ max/2) so the oracle replays them
  // as scalar subqueries; comparisons run in exact integer MICROSECONDS
  // in both engines (timestamps are µs-precision; ms-rounded bounds
  // would disagree at file-boundary rows). At 100 TB: the day window
  // reads O(window) files instead of the table, the point probe O(1/16)
  // — and spec EVOLUTION is one metadata commit, old files pruning
  // under the transforms they were written with.
  // --------------------------------------------------------------------
  def q136HiddenPartitioning(s0: SparkSession, dir: String): DataFrame = {
    // isolated session — the AQE-coalesce/shuffle-width pin around the
    // appends must not leak into concurrently-verifying queries
    val s = s0.newSession()
    val root = scratch("pspec", dir)
    graft.core.Fs.rmTree(new java.io.File(root))
    val base = lake(s, dir).events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .transform(graft.core.CacheScope.cached) // one source scan per query (r16 opt, guide §1.2/§5)
    // one table per transform: range clustering orders by the spec's
    // leading transform, so a composite spec prunes its leader best —
    // a time-queried table partitions by time, a key-probed one buckets
    val tDay = new graft.medallion.GraftTable(s"$root/by_day")
    val tUser = new graft.medallion.GraftTable(s"$root/by_user")
    tDay.append(base.limit(0)) // v1: schema only
    tDay.setProperty(graft.medallion.PartitionSpec.Prop, "days(ts)")
    tUser.append(base.limit(0))
    tUser.setProperty(graft.medallion.PartitionSpec.Prop, "bucket(16,user_id)")
    // AQE's shuffle coalescing would fold this test-scale ingest into
    // one advisory-sized file (exactly right at 100 TB, where files hit
    // the target size); pin it off — and the exchange to ≥32 ways —
    // around the appends so the staged layout exposes the pruning the
    // spec exists for
    val confKeys = Seq("spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "32")
    val prev = confKeys.map { case (k, _) => k -> s.conf.getOption(k) }
    confKeys.foreach { case (k, v) => s.conf.set(k, v) }
    try { tDay.append(base); tUser.append(base) }
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
    // probe bounds, oracle-derivably: the day at the middle of the ts
    // span, and the greatest user_id at or below half the max
    val mm = base.agg(min(unix_millis(col("ts"))), max(unix_millis(col("ts"))),
      max(col("user_id"))).head()
    val dayLo = Math.floorDiv((mm.getLong(0) + mm.getLong(1)) / 2, 86400000L)
    val winLoUs = dayLo * 86400000000L
    val winHiUs = (dayLo + 3L) * 86400000000L // exclusive
    val probeUser = base.filter(col("user_id") <= mm.getLong(2) / 2)
      .agg(max(col("user_id"))).head().getLong(0)
    val tsLo = new java.sql.Timestamp(winLoUs / 1000L)
    val tsHi = new java.sql.Timestamp(winHiUs / 1000L)
    val totalDay = tDay.snapshot().files.size
    val totalUser = tUser.snapshot().files.size
    val nDay = tDay.filesForRange("ts", Some(tsLo), Some(tsHi))
    val nUser = tUser.filesForRange("user_id", Some(probeUser), Some(probeUser))
    require(totalDay >= 8 && nDay * 3 <= totalDay,
      s"days() must prune a 3-of-30-day window: $nDay of $totalDay files")
    require(nUser * 4 <= totalUser,
      s"bucket(16) must prune a point probe: $nUser of $totalUser files")
    val dayRows = tDay.readRange(s, "ts", Some(tsLo), Some(tsHi))
      .filter(unix_micros(col("ts")) >= winLoUs &&
        unix_micros(col("ts")) < winHiUs)
      .select(lit("day_window").as("branch"), col("event_id"),
        col("user_id"), col("event_type"))
    val userRows = tUser.readRange(s, "user_id", Some(probeUser), Some(probeUser))
      .select(lit("user_point").as("branch"), col("event_id"),
        col("user_id"), col("event_type"))
    dayRows.unionAll(userRows).orderBy(col("branch"), col("event_id"))
  }

  private val q136Oracle =
    """WITH bounds AS (
         SELECT ((min(epoch_ms(ts)) + max(epoch_ms(ts))) // 2) // 86400000
                  AS day_lo,
                (SELECT max(user_id) FROM events
                 WHERE user_id <= (SELECT max(user_id) FROM events) // 2)
                  AS probe_user
         FROM events)
       SELECT 'day_window' AS branch, event_id, user_id, event_type
       FROM events, bounds
       WHERE epoch_us(ts) >= day_lo * 86400000000
         AND epoch_us(ts) < (day_lo + 3) * 86400000000
       UNION ALL
       SELECT 'user_point', event_id, user_id, event_type
       FROM events, bounds
       WHERE user_id = probe_user
       ORDER BY branch, event_id"""

  // --------------------------------------------------------------------
  // q139 — GENERATED COLUMNS (Delta's GENERATED ALWAYS AS as the
  // `generated.<col>` table property): a `day` column declared as
  // floor(unix_millis(o_orderdate)/86400000) is COMPUTED at write for
  // batches that omit it — the ingest never materializes the partition
  // value, the classic Delta date-partitioning pairing — and VALIDATED
  // value-by-value when provided (require'd: a mismatching batch
  // refuses with zero commit). The read groups by the generated column;
  // the oracle recomputes it from the raw timestamps — a hash match
  // certifies the fill is exactly the declared expression. Scale: the
  // fill is one codegen'd projection inside the existing staging pass;
  // validation is the constraints engine's one columnar scan of the
  // staged bytes.
  // --------------------------------------------------------------------
  def q139GeneratedColumns(s: SparkSession, dir: String): DataFrame = {
    val root = scratch("gencol", dir)
    graft.core.Fs.rmTree(new java.io.File(root))
    val t = new graft.medallion.GraftTable(s"$root/orders")
    val base = lake(s, dir).orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      .transform(graft.core.CacheScope.cached) // one source scan per query (r16 opt, guide §1.2/§5)
    t.append(base.limit(0).withColumn("day", lit(0L))) // v1: schema only
    // tz-free day derivation (o_orderdate is TIMESTAMP_NTZ — wall-clock
    // date part, no session-zone dependence; §8.3 determinism policy)
    t.setProperty("generated.day",
      "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT)")
    t.append(base) // omits `day` — computed at write
    // a batch PROVIDING a wrong value must refuse with zero commit
    val head = t.latestVersion()
    val bad = base.limit(5).withColumn("day", lit(-1L))
    val refused =
      try { t.append(bad); false }
      catch { case _: IllegalStateException => true }
    require(refused && t.latestVersion() == head,
      "q139: a mismatching provided value must refuse without committing")
    t.read(s)
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_custkey")).as("custkey_sum")) // exact BIGINT sum
      .orderBy(col("day"))
  }

  private val q139Oracle =
    """SELECT epoch_ms(o_orderdate) // 86400000 AS day,
              count(*) AS n_orders,
              CAST(sum(o_custkey) AS BIGINT) AS custkey_sum
       FROM orders GROUP BY 1 ORDER BY day"""

  // --------------------------------------------------------------------
  // q141 — zero-scan SUM aggregates (per-file sum stats, `sum.columns`):
  // q109's metadata-aggregate story extended to SUM — the staging pass
  // keeps an EXACT decimal sum per (file × declared integral column),
  // and an unfiltered SELECT SUM()/COUNT() then folds file-count-sized
  // log metadata on the driver with ZERO data files opened (require'd:
  // no BatchScan in the plan). At 100 TB this turns the dashboard's
  // revenue-by-nothing rollup into a log read. Anything uncovered —
  // deletion vectors, pre-property files, float columns, long
  // overflow — falls back to a real scan (MetadataSumSpec), never to a
  // wrong answer; the hash match certifies the folded values equal the
  // oracle's real sums.
  // --------------------------------------------------------------------
  def q141MetadataSum(s: SparkSession, dir: String): DataFrame = {
    val root = s"${scratch("msum", dir)}/orders_sum"
    graft.core.Fs.rmTree(new java.io.File(root))
    val t = new graft.medallion.GraftTable(root)
    val base = lake(s, dir).orders.select(col("o_orderkey"), col("o_custkey"))
      .transform(graft.core.CacheScope.cached) // one source scan per query (r16 opt, guide §1.2/§5)
    t.append(base.limit(0)) // v1: schema only
    t.setProperty(graft.medallion.TxLog.SumColumnsProp, "o_orderkey,o_custkey")
    t.append(base.filter(col("o_orderkey") % 2 === 0))
    t.append(base.filter(col("o_orderkey") % 2 === 1))
    val agg = s.read.format("graft-table").option("path", root).load()
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("sum_key"),
        sum(col("o_custkey")).as("sum_cust"))
    val plan = agg.queryExecution.executedPlan.toString
    require(!plan.contains("BatchScan"),
      s"zero-scan SUM must not open a data file: $plan")
    agg
  }

  // --------------------------------------------------------------------
  // q147 — atomic REPLACE WHERE (Delta's replaceWhere, the BACKFILL
  // primitive): a recomputed 1995 slice swaps into the orders table in
  // ONE commit through `CALL system.replace_range` — the fully-covered
  // file drops by metadata (require'd), the other slices stay
  // byte-identical (require'd), and no reader ever sees the
  // delete-then-append gap two commits would expose. Out-of-window
  // replacement rows are require'd to refuse with zero residue.
  // 100 TB story: recompute-a-day-and-swap is the most common batch
  // correction; this makes it one serializable commit whose IO is the
  // replaced slice, never the table.
  // --------------------------------------------------------------------
  def q147ReplaceWhere(s: SparkSession, dir: String): DataFrame = {
    val wh = s"${scratch("replw", dir)}/warehouse"
    graft.core.Fs.rmTree(new java.io.File(wh))
    val cat = s"gq147_${math.abs(wh.hashCode).toString.take(8)}"
    graft.api.Graft.registerCatalog(s, cat, wh)
    try {
      val base = lake(s, dir).orders
        .select(col("o_orderkey"),
          col("o_orderdate").cast("date").as("o_orderdate"),
          col("o_totalprice"))
      .transform(graft.core.CacheScope.cached) // one source scan per query (r16 opt, guide §1.2/§5)
      val t = new graft.medallion.GraftTable(s"$wh/d/ord")
      t.append(base.filter(year(col("o_orderdate")) < 1995).coalesce(1))
      t.append(base.filter(year(col("o_orderdate")) === 1995).coalesce(1))
      t.append(base.filter(year(col("o_orderdate")) > 1995).coalesce(1))
      val untouched = t.snapshot().files.map(_.path).toSet
      base.filter(year(col("o_orderdate")) === 1995)
        .select(col("o_orderkey"), col("o_orderdate"),
          (col("o_totalprice") * 2).as("o_totalprice"))
        .createOrReplaceTempView("q147_fix")
      val row = s.sql(
        s"""CALL $cat.system.replace_range(table => 'd.ord',
            column => 'o_orderdate', source => 'q147_fix',
            lower => '1995-01-01', upper => '1995-12-31')""").head()
      require(row.getInt(0) == 1 && row.getInt(1) == 0,
        s"the 1995 file must drop by metadata, nothing rewritten: $row")
      require((untouched -- t.snapshot().files.map(_.path).toSet).size == 1,
        "only the replaced file may leave the live set")
      // out-of-window replacement content refuses atomically
      val v0 = t.latestVersion()
      base.limit(5).createOrReplaceTempView("q147_bad")
      val refused =
        try { s.sql(s"""CALL $cat.system.replace_range(table => 'd.ord',
              column => 'o_orderdate', source => 'q147_bad',
              lower => '1995-06-01', upper => '1995-06-02')""").collect()
          false
        } catch { case _: Exception => true }
      require(refused && t.latestVersion() == v0,
        "out-of-window rows must refuse with nothing committed")
      s.sql(s"""SELECT o_orderkey, o_orderdate, o_totalprice
               FROM $cat.d.ord ORDER BY o_orderkey""")
    } finally {
      s.catalog.dropTempView("q147_fix")
      s.catalog.dropTempView("q147_bad")
      s.conf.unset(s"spark.sql.catalog.$cat")
      s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  private val q147Oracle =
    """SELECT o_orderkey, o_orderdate,
              CASE WHEN year(o_orderdate) = 1995
                   THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
       FROM orders ORDER BY o_orderkey"""

  // --------------------------------------------------------------------
  // q146 — STORAGE-PARTITIONED JOIN (SPARK-37375, the Iceberg SPJ
  // design): orders and customer land in graft tables co-bucketed on
  // the customer key (`partition.spec = bucket(8, key)`), the scans
  // report KeyGroupedPartitioning through the catalog's V2 `bucket`
  // function, and the join between them plans with ZERO exchanges of
  // either kind — require'd: no ShuffleExchange AND no
  // BroadcastExchange in the executed plan. 100 TB story: THE join —
  // two co-bucketed fact tables join at scan parallelism with neither
  // side ever crossing the network.
  // --------------------------------------------------------------------
  def q146SpjJoin(s0: SparkSession, dir: String): DataFrame = {
    // ISOLATED session: this query (like every SPJ query) flips
    // session-global confs (v2 bucketing, broadcast threshold) — under
    // Verify's 4-way query concurrency that window would race a
    // sibling query's planning on a SHARED session (observed in r9:
    // q148's join planned shuffled while a sibling had bucketing off).
    // SQLConf is per-session, so a throwaway newSession() confines
    // every toggle to this query.
    val s = s0.newSession()
    val wh = s"${scratch("spj", dir)}/warehouse"
    graft.core.Fs.rmTree(new java.io.File(wh))
    val cat = s"gq146_${math.abs(wh.hashCode).toString.take(8)}"
    graft.api.Graft.registerCatalog(s, cat, wh)
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      val ot = new graft.medallion.GraftTable(s"$wh/d/ord")
      val ct = new graft.medallion.GraftTable(s"$wh/d/cust")
      ot.append(lake(s, dir).orders
        .select(col("o_custkey"), col("o_totalprice")).limit(0))
      ct.append(lake(s, dir).customer
        .select(col("c_custkey"), col("c_mktsegment")).limit(0))
      ot.setProperty(graft.medallion.PartitionSpec.Prop, "bucket(8,o_custkey)")
      ct.setProperty(graft.medallion.PartitionSpec.Prop, "bucket(8,c_custkey)")
      ot.append(lake(s, dir).orders.select(col("o_custkey"), col("o_totalprice")))
      ct.append(lake(s, dir).customer.select(col("c_custkey"), col("c_mktsegment")))
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      val joined = s.sql(
        s"""SELECT c.c_mktsegment,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                     AS sum_price
            FROM $cat.d.ord o JOIN $cat.d.cust c
              ON o.o_custkey = c.c_custkey
            GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""")
      // the segment GROUP BY above the join may shuffle (different
      // key); what must NOT exist is any exchange keyed on the JOIN
      // key — that would mean Spark re-partitioned a scan side.
      // Checked with AdaptivePlans (plain `executedPlan.collect` is
      // VACUOUS under AQE: AdaptiveSparkPlanExec is a leaf to
      // TreeNode.collect). The NEGATIVE CONTROL — the identical join
      // with v2 bucketing OFF must show ≥1 join-key exchange, proof
      // the checker can see shuffles at all — runs in
      // StoragePartitionedJoinSpec, outside the benched body.
      val joinShuffles = graft.plans.AdaptivePlans.shufflesOn(joined, "custkey")
      require(joinShuffles.isEmpty,
        s"the co-bucketed join must not exchange either scan side:\n" +
          graft.plans.AdaptivePlans.finalPlan(joined))
      require(graft.plans.AdaptivePlans.broadcastCount(joined) == 0,
        s"zero-exchange must not be broadcast's doing:\n" +
          graft.plans.AdaptivePlans.finalPlan(joined))
      joined
    } finally {
      prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
      s.conf.unset(s"spark.sql.catalog.$cat")
      s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  // --------------------------------------------------------------------
  // q148 — COMPOSITE-SPEC STORAGE-PARTITIONED JOIN (`days(d), bucket(4,
  // key)`, Iceberg's partially-clustered layout): order headers and
  // priorities land in two graft tables sharing the composite spec, the
  // scans report a two-transform KeyGroupedPartitioning resolved
  // through the catalog's V2 `days` + `bucket` functions, and the join
  // on (key, date) plans with ZERO exchanges. 100 TB story: THE
  // fact-table layout — date-partitioned AND key-bucketed tables join
  // day-and-key-aligned at scan parallelism; time-range predicates
  // still prune whole days on both sides first. (The year-truncated
  // date keeps the tuple count sane at test scale; at 100 TB the same
  // spec runs on raw days.)
  // --------------------------------------------------------------------
  def q148SpjComposite(s0: SparkSession, dir: String): DataFrame = {
    // isolated session — conf toggles must not race sibling queries
    // under Verify's concurrency (see q146SpjJoin)
    val s = s0.newSession()
    val wh = s"${scratch("spjc", dir)}/warehouse"
    graft.core.Fs.rmTree(new java.io.File(wh))
    val cat = s"gq148_${math.abs(wh.hashCode).toString.take(8)}"
    graft.api.Graft.registerCatalog(s, cat, wh)
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      val ht = new graft.medallion.GraftTable(s"$wh/d/hdr")
      val pt = new graft.medallion.GraftTable(s"$wh/d/pri")
      val hdr = lake(s, dir).orders.select(
        col("o_orderkey"), trunc(col("o_orderdate"), "year").as("o_year"),
        col("o_totalprice"))
      val pri = lake(s, dir).orders.select(
        col("o_orderkey"), trunc(col("o_orderdate"), "year").as("o_year"),
        col("o_orderpriority"))
      ht.append(hdr.limit(0)); pt.append(pri.limit(0))
      // bucket(4): 7 years x 4 buckets = 28 tuples per table — enough
      // to prove the composite co-location; at 100 TB the same spec
      // runs with production bucket counts
      ht.setProperty(graft.medallion.PartitionSpec.Prop,
        "days(o_year), bucket(4,o_orderkey)")
      pt.setProperty(graft.medallion.PartitionSpec.Prop,
        "days(o_year), bucket(4,o_orderkey)")
      ht.append(hdr); pt.append(pri)
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      val joined = s.sql(
        s"""SELECT p.o_orderpriority,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(sum(CAST(h.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                     AS sum_price
            FROM $cat.d.hdr h JOIN $cat.d.pri p
              ON h.o_orderkey = p.o_orderkey AND h.o_year = p.o_year
            GROUP BY p.o_orderpriority ORDER BY p.o_orderpriority""")
      // sound (AQE-unwrapping) check + broadcast exclusion; negative
      // control (bucketing off ⇒ composite join exchanges) lives in
      // StoragePartitionedJoinSpec, outside the benched body
      require(graft.plans.AdaptivePlans.shufflesOn(joined, "orderkey").isEmpty,
        s"the composite co-partitioned join must not exchange a scan side:\n" +
          graft.plans.AdaptivePlans.finalPlan(joined))
      require(graft.plans.AdaptivePlans.broadcastCount(joined) == 0,
        "zero-exchange must not be broadcast's doing")
      joined
    } finally {
      prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
      s.conf.unset(s"spark.sql.catalog.$cat")
      s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  // --------------------------------------------------------------------
  // q149 — STORAGE-PARTITIONED AGGREGATE: a bucket(8, o_custkey) orders
  // table GROUP BYs its bucket key with NO hash exchange anywhere —
  // the scan's KeyGroupedPartitioning already clusters equal keys, so
  // the aggregate runs in place at scan parallelism (only the final
  // presentation ORDER BY range-partitions). 100 TB story: the
  // keyed rollup every fact table runs daily, minus its only shuffle.
  // --------------------------------------------------------------------
  def q149SpjAgg(s0: SparkSession, dir: String): DataFrame = {
    // isolated session — conf toggles must not race sibling queries
    // under Verify's concurrency (see q146SpjJoin)
    val s = s0.newSession()
    val wh = s"${scratch("spja", dir)}/warehouse"
    graft.core.Fs.rmTree(new java.io.File(wh))
    val cat = s"gq149_${math.abs(wh.hashCode).toString.take(8)}"
    graft.api.Graft.registerCatalog(s, cat, wh)
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true")
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      val ot = new graft.medallion.GraftTable(s"$wh/d/ord")
      ot.append(lake(s, dir).orders
        .select(col("o_custkey"), col("o_totalprice")).limit(0))
      ot.setProperty(graft.medallion.PartitionSpec.Prop, "bucket(8,o_custkey)")
      ot.append(lake(s, dir).orders.select(col("o_custkey"), col("o_totalprice")))
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      val agg = s.sql(
        s"""SELECT o_custkey,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                     AS sum_price
            FROM $cat.d.ord GROUP BY o_custkey ORDER BY o_custkey""")
      // the presentation ORDER BY may range-partition; what must NOT
      // exist is a HASH exchange on the group key — the aggregate
      // itself runs on the scan's key grouping. Sound (AQE-unwrapping)
      // count; negative control (bucketing off ⇒ the GROUP BY
      // hash-exchanges) lives in StoragePartitionedJoinSpec.
      def hashOnKey(df: org.apache.spark.sql.DataFrame): Int =
        graft.plans.AdaptivePlans.shuffleExchanges(df).count { e =>
          val p = e.outputPartitioning.toString
          p.contains("hashpartitioning") && p.contains("custkey")
        }
      require(hashOnKey(agg) == 0,
        s"the bucket-key aggregate must run on the scan grouping:\n" +
          graft.plans.AdaptivePlans.finalPlan(agg))
      agg
    } finally {
      prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
      s.conf.unset(s"spark.sql.catalog.$cat")
      s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  private val q149Oracle =
    """SELECT o_custkey,
              CAST(count(*) AS BIGINT) AS n_orders,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       FROM orders GROUP BY o_custkey ORDER BY o_custkey"""

  // --------------------------------------------------------------------
  // q150 — STORAGE-PARTITIONED WINDOW (keep-best dedup): row_number()
  // PARTITION BY the bucket key over a bucket(8, o_custkey) table plans
  // with ZERO exchanges — the scan's KeyGroupedPartitioning satisfies
  // the window's ClusteredDistribution, so the per-key sort + rank
  // (best order per customer) runs in place at scan parallelism, with
  // WindowGroupLimit capping each key before the sort ever widens.
  // 100 TB story: CDC keep-latest / best-version-wins dedup IS a
  // window over the primary key — on a bucket-keyed table it crosses
  // the network zero times at any scale.
  // --------------------------------------------------------------------
  def q150SpjWindow(s0: SparkSession, dir: String): DataFrame = {
    // isolated session — conf toggles must not race sibling queries
    // under Verify's concurrency (see q146SpjJoin)
    val s = s0.newSession()
    val wh = s"${scratch("spjw", dir)}/warehouse"
    graft.core.Fs.rmTree(new java.io.File(wh))
    val cat = s"gq150_${math.abs(wh.hashCode).toString.take(8)}"
    graft.api.Graft.registerCatalog(s, cat, wh)
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true")
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      val ot = new graft.medallion.GraftTable(s"$wh/d/ord")
      val cols = Seq(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice"))
      ot.append(lake(s, dir).orders.select(cols: _*).limit(0))
      ot.setProperty(graft.medallion.PartitionSpec.Prop, "bucket(8,o_custkey)")
      ot.append(lake(s, dir).orders.select(cols: _*))
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      // the deterministic keep-best: highest-value order per customer,
      // ties broken by date then key so rn = 1 names exactly one row
      val best = s.sql(
        s"""SELECT o_custkey, o_orderkey,
                   CAST(o_totalprice AS DOUBLE) AS best_price
            FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderdate, o_orderkey) rn
                  FROM $cat.d.ord)
            WHERE rn = 1 ORDER BY o_custkey""")
      def hashOnKey(df: org.apache.spark.sql.DataFrame): Int =
        graft.plans.AdaptivePlans.shuffleExchanges(df).count { e =>
          val p = e.outputPartitioning.toString
          p.contains("hashpartitioning") && p.contains("custkey")
        }
      require(hashOnKey(best) == 0,
        s"the bucket-key window must rank on the scan grouping:\n" +
          graft.plans.AdaptivePlans.finalPlan(best))
      // negative control (bucketing off ⇒ the window hash-exchanges)
      // lives in StoragePartitionedJoinSpec, outside the benched body
      best
    } finally {
      prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
      s.conf.unset(s"spark.sql.catalog.$cat")
      s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  private val q150Oracle =
    """SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS best_price
       FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderdate, o_orderkey) rn
             FROM orders)
       WHERE rn = 1 ORDER BY o_custkey"""

  // --------------------------------------------------------------------
  // q151 — STORAGE-PARTITIONED MERGE: a MERGE INTO between two tables
  // co-bucketed on the merge key plans its copy-on-write rewrite
  // (FullOuter join) AND its matching-groups subquery (LeftSemi) with
  // ZERO exchanges — the row-level operation scan reports the same
  // KeyGroupedPartitioning as a plain scan (provenance `_commit_version`
  // rides the keyed row partitions per file), while runtime group
  // filtering still prunes non-matching files (post-filter keys are a
  // subset of the reported ones). 100 TB story: THE upsert — neither
  // the rewritten groups nor the CDC batch cross the network, and only
  // files that provably hold matching rows are rewritten.
  // --------------------------------------------------------------------
  def q151SpjMerge(s0: SparkSession, dir: String): DataFrame = {
    // isolated session — conf toggles must not race sibling queries
    // under Verify's concurrency (see q146SpjJoin)
    val s = s0.newSession()
    val wh = s"${scratch("spjm", dir)}/warehouse"
    graft.core.Fs.rmTree(new java.io.File(wh))
    val cat = s"gq151_${math.abs(wh.hashCode).toString.take(8)}"
    graft.api.Graft.registerCatalog(s, cat, wh)
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true")
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      val tgt = new graft.medallion.GraftTable(s"$wh/d/t")
      val src = new graft.medallion.GraftTable(s"$wh/d/s")
      val base = lake(s, dir).orders
        .select(col("o_orderkey"), col("o_totalprice"))
      .transform(graft.core.CacheScope.cached) // one source scan per query (r16 opt, guide §1.2/§5)
      tgt.append(base.limit(0))
      src.append(base.limit(0))
      tgt.setProperty(graft.medallion.PartitionSpec.Prop, "bucket(8,o_orderkey)")
      tgt.setProperty("write.orderBy", "o_orderkey")
      src.setProperty(graft.medallion.PartitionSpec.Prop, "bucket(8,o_orderkey)")
      src.setProperty("write.orderBy", "o_orderkey")
      tgt.append(base)
      // the CDC batch: re-pricings for every 7th key, fresh rows beyond
      // the key space — updates AND inserts in one merge
      src.append(
        base.where(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice"))
          .unionAll(base.where(col("o_orderkey") % 7 === 3)
            .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
              lit(1.5).as("o_totalprice"))))
      // ONE sorted file per bucket: the ordering report survives key
      // grouping only when each tuple is a single input partition
      tgt.compact(s, targetFileMB = 128)
      src.compact(s, targetFileMB = 128)
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      val merge =
        s"""MERGE INTO $cat.d.t AS tgt USING $cat.d.s AS src
            ON tgt.o_orderkey = src.o_orderkey
            WHEN MATCHED THEN UPDATE SET o_totalprice = src.o_totalprice
            WHEN NOT MATCHED THEN INSERT (o_orderkey, o_totalprice)
              VALUES (src.o_orderkey, src.o_totalprice)"""
      // Execute the MERGE, then inspect the plan that ACTUALLY ran:
      // spark.sql on DML is eager and returns a CommandResultExec leaf
      // holding the executed command plan — AdaptivePlans.collectDeep
      // descends through it (and AQE/stage/reuse wrappers), so these
      // are node-based checks on the post-AQE physical plan, immune to
      // EXPLAIN-format drift. Negative controls (bucketing off ⇒ the
      // same checkers count ≥1 exchange / ≥2 join-input sorts) live in
      // StoragePartitionedJoinSpec, outside the benched body.
      val exec = s.sql(merge).queryExecution.executedPlan
      require(graft.plans.AdaptivePlans.shufflesOn(exec, "orderkey")
          .count(_.outputPartitioning.toString.contains("hashpartitioning")) == 0,
        "the co-bucketed MERGE must plan both its rewrite join and its " +
          "matching-groups subquery without a merge-key exchange")
      // ONE local key sort remains by design: the WRITE's own declared
      // ordering (RequiresDistributionAndOrdering) directly above
      // MergeRows — what keeps the REWRITTEN files stamped-sorted so
      // zero-sort joins survive the DML. Neither JOIN input sorts.
      require(graft.plans.AdaptivePlans.localSortsOn(exec, "orderkey").size == 1 &&
          graft.plans.AdaptivePlans.smjInputSorts(exec) == 0,
        "the write-ordered MERGE must consume the scans' reported order " +
          "— no JOIN-side key sorts, only the write's own ordering sort")
      s.sql(s"""SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
                FROM $cat.d.t ORDER BY o_orderkey""")
    } finally {
      prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
      s.conf.unset(s"spark.sql.catalog.$cat")
      s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  private val q151Oracle =
    """SELECT o_orderkey,
              CAST(CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
                        ELSE o_totalprice END AS DOUBLE) AS price
       FROM orders
       UNION ALL
       SELECT o_orderkey + 100000000, CAST(1.5 AS DOUBLE) AS price
       FROM orders WHERE o_orderkey % 7 = 3
       ORDER BY o_orderkey"""

  // --------------------------------------------------------------------
  // q152 — WRITE-ORDERED storage-partitioned join: both tables carry
  // `write.orderBy` on the bucket key, so every staged file is locally
  // sorted and the scan reports that order (SupportsReportOrdering) on
  // top of its KeyGroupedPartitioning. The customer×orders sort-merge
  // join then plans with ZERO exchanges AND ZERO local sorts on the
  // key, and the per-customer GROUP BY aggregates exchange-free off
  // the same report — the only exchange left in the whole pipeline is
  // the presentation ORDER BY. 100 TB story: the sorted-bucket layout
  // means THE fact-table join moves data through neither the network
  // nor a sorter — scan-speed joins at any scale.
  // --------------------------------------------------------------------
  def q152SpjSorted(s0: SparkSession, dir: String): DataFrame = {
    // isolated session — conf toggles must not race sibling queries
    // under Verify's concurrency (see q146SpjJoin)
    val s = s0.newSession()
    val wh = s"${scratch("spjs", dir)}/warehouse"
    graft.core.Fs.rmTree(new java.io.File(wh))
    val cat = s"gq152_${math.abs(wh.hashCode).toString.take(8)}"
    graft.api.Graft.registerCatalog(s, cat, wh)
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      val ct = new graft.medallion.GraftTable(s"$wh/d/cust")
      val ot = new graft.medallion.GraftTable(s"$wh/d/ord")
      val cust = lake(s, dir).customer.select(col("c_custkey"), col("c_acctbal"))
      val ords = lake(s, dir).orders.select(col("o_custkey"), col("o_totalprice"))
      ct.append(cust.limit(0))
      ot.append(ords.limit(0))
      ct.setProperty(graft.medallion.PartitionSpec.Prop, "bucket(8,c_custkey)")
      ct.setProperty("write.orderBy", "c_custkey")
      ot.setProperty(graft.medallion.PartitionSpec.Prop, "bucket(8,o_custkey)")
      ot.setProperty("write.orderBy", "o_custkey")
      ct.append(cust)
      ot.append(ords)
      // one file per bucket: multi-file tuples make Spark (correctly)
      // drop the ordering report — compaction IS the sorted layout
      ct.compact(s, targetFileMB = 128)
      ot.compact(s, targetFileMB = 128)
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      def build = s.sql(
        s"""SELECT c.c_custkey,
                   CAST(c.c_acctbal AS DOUBLE) AS acctbal,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                     AS revenue
            FROM $cat.d.cust c JOIN $cat.d.ord o ON c.c_custkey = o.o_custkey
            GROUP BY c.c_custkey, c.c_acctbal ORDER BY c.c_custkey""")
      val q = build
      val keyShuffles = graft.plans.AdaptivePlans.shufflesOn(q, "custkey")
        .count(_.outputPartitioning.toString.contains("hashpartitioning"))
      require(keyShuffles == 0,
        "the write-ordered co-bucketed join+agg must plan zero hash " +
          s"exchanges on the key:\n${graft.plans.AdaptivePlans.finalPlan(q)}")
      require(graft.plans.AdaptivePlans.localSortsOn(q, "custkey").isEmpty,
        "the write-ordered join must plan zero LOCAL sorts on the key " +
          s"(scan-reported ordering):\n${graft.plans.AdaptivePlans.finalPlan(q)}")
      // negative controls for both checkers (bucketing off ⇒ exchange
      // AND local key sorts) live in StoragePartitionedJoinSpec.
      // Return the CHECKED instance: its executedPlan materialized (and
      // cached) inside the conf window, so later explains/collects show
      // the zero-exchange zero-sort plan the requires proved — a fresh
      // build would silently re-plan under restored session confs
      q
    } finally {
      prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
      s.conf.unset(s"spark.sql.catalog.$cat")
      s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }


  // --------------------------------------------------------------------
  // q153 — STREAMING SORTED INGEST, end to end: orders arrive through a
  // `writeStream.toTable` file-source replay into a bucket(8, o_custkey)
  // + write.orderBy table — every epoch file lands tuple-pure, locally
  // SORTED and stamped (the write declares the order; the fanout writer
  // rolls sorted subsequences) — then ONE compaction yields the
  // sorted-bucket layout and the join against a batch-written customer
  // table plans with ZERO exchanges and ZERO local key sorts. 100 TB
  // story: the CDC firehose lands query-optimal; no post-hoc re-sort
  // job ever exists, compaction alone restores scan-speed joins.
  // --------------------------------------------------------------------
  def q153StreamSorted(s0: SparkSession, dir: String): DataFrame = {
    // isolated session — conf toggles must not race sibling queries
    // under Verify's concurrency (see q146SpjJoin)
    val s = s0.newSession()
    // streaming toTable resolves its catalog through the THREAD's active
    // session (not the DataStreamWriter's) — pin it to the isolated one
    // for the query body and restore after
    val prevActive = SparkSession.getActiveSession
    val root = scratch("spjstream", dir)
    graft.core.Fs.rmTree(new java.io.File(root))
    val wh = s"$root/warehouse"
    val cat = s"gq153_${math.abs(wh.hashCode).toString.take(8)}"
    graft.api.Graft.registerCatalog(s, cat, wh)
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      SparkSession.setActiveSession(s)
      val ords = lake(s, dir).orders.select(col("o_custkey"), col("o_totalprice"))
      // the "kafka" stand-in: a parquet drop the file source replays
      val srcDir = s"$root/incoming"
      ords.write.parquet(srcDir)
      val ot = new graft.medallion.GraftTable(s"$wh/d/ord")
      ot.append(ords.limit(0))
      ot.setProperty(graft.medallion.PartitionSpec.Prop, "bucket(8,o_custkey)")
      ot.setProperty("write.orderBy", "o_custkey")
      val ct = new graft.medallion.GraftTable(s"$wh/d/cust")
      val cust = lake(s, dir).customer.select(col("c_custkey"))
      ct.append(cust.limit(0))
      ct.setProperty(graft.medallion.PartitionSpec.Prop, "bucket(8,c_custkey)")
      ct.setProperty("write.orderBy", "c_custkey")
      ct.append(cust)
      ct.compact(s, targetFileMB = 128)
      s.readStream.schema(ords.schema).parquet(srcDir)
        .writeStream.option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(s"$cat.d.ord")
        .awaitTermination()
      // the streaming epochs landed stamped AND tuple-pure — the whole
      // point of declared write ordering on the streaming plane
      require(ot.snapshot().files.nonEmpty &&
          ot.snapshot().files.forall(f =>
            f.stats.get(graft.medallion.TxLog.SortedKey)
              .exists(cs => cs.min == cs.max && cs.min == "o_custkey")),
        "every streamed epoch file must carry the o_custkey sorted stamp")
      ot.compact(s, targetFileMB = 128)
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      val q = s.sql(
        s"""SELECT c.c_custkey,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(max(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                     AS max_price
            FROM $cat.d.cust c JOIN $cat.d.ord o ON c.c_custkey = o.o_custkey
            GROUP BY c.c_custkey ORDER BY c.c_custkey""")
      require(graft.plans.AdaptivePlans.shufflesOn(q, "custkey")
          .count(_.outputPartitioning.toString.contains("hashpartitioning")) == 0,
        "the streamed+compacted join must plan zero key hash exchanges:\n" +
          graft.plans.AdaptivePlans.finalPlan(q))
      require(graft.plans.AdaptivePlans.localSortsOn(q, "custkey").isEmpty,
        "the streamed+compacted join must plan zero local key sorts:\n" +
          graft.plans.AdaptivePlans.finalPlan(q))
      // negative controls (bucketing off ⇒ exchange AND local key
      // sorts) live in StoragePartitionedJoinSpec, not the benched body
      q
    } finally {
      prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
      s.conf.unset(s"spark.sql.catalog.$cat")
      s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      // restore UNCONDITIONALLY: leaving the throwaway session pinned
      // would leak its catalog/conf state into the worker thread's
      // subsequent queries
      SparkSession.setActiveSession(prevActive.getOrElse(s0))
    }
  }


  // --------------------------------------------------------------------
  // q154 — ZERO-SORT WINDOW (keep-first dedup): over a bucket(8, key)
  // table write-ordered by (key, seq), a row_number() PARTITION BY key
  // ORDER BY seq ranks with ZERO exchanges AND ZERO sorts — the scan's
  // KeyGroupedPartitioning satisfies the window's clustering and its
  // reported two-column file order satisfies the window's full
  // (partition, order) sort requirement. 100 TB story: CDC keep-first /
  // earliest-version-wins dedup IS this window — on the sorted-bucket
  // layout it runs at raw scan speed, touching neither the network nor
  // a sorter.
  // --------------------------------------------------------------------
  def q154SpjWindowSorted(s0: SparkSession, dir: String): DataFrame = {
    // isolated session — conf toggles must not race sibling queries
    // under Verify's concurrency (see q146SpjJoin)
    val s = s0.newSession()
    val wh = s"${scratch("spjws", dir)}/warehouse"
    graft.core.Fs.rmTree(new java.io.File(wh))
    val cat = s"gq154_${math.abs(wh.hashCode).toString.take(8)}"
    graft.api.Graft.registerCatalog(s, cat, wh)
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true")
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      val ot = new graft.medallion.GraftTable(s"$wh/d/ord")
      val ords = lake(s, dir).orders.select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      ot.append(ords.limit(0))
      ot.setProperty(graft.medallion.PartitionSpec.Prop, "bucket(8,o_custkey)")
      ot.setProperty("write.orderBy", "o_custkey,o_orderkey")
      ot.append(ords)
      ot.compact(s, targetFileMB = 128)
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      val q = s.sql(
        s"""SELECT o_custkey, o_orderkey,
                   CAST(o_totalprice AS DOUBLE) AS price
            FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                         row_number() OVER (PARTITION BY o_custkey
                                            ORDER BY o_orderkey) AS rn
                  FROM $cat.d.ord)
            WHERE rn = 1 ORDER BY o_custkey""")
      require(graft.plans.AdaptivePlans.shufflesOn(q, "custkey")
          .count(_.outputPartitioning.toString.contains("hashpartitioning")) == 0,
        "the bucket-key window must rank without a key hash exchange:\n" +
          graft.plans.AdaptivePlans.finalPlan(q))
      require(graft.plans.AdaptivePlans.localSortsOn(q, "custkey").isEmpty &&
          graft.plans.AdaptivePlans.localSortsOn(q, "orderkey").isEmpty,
        "the (key, seq) write order must satisfy the window's full sort " +
          s"requirement:\n${graft.plans.AdaptivePlans.finalPlan(q)}")
      // negative controls for BOTH checkers (bucketing off ⇒ exchange
      // AND sort) live in StoragePartitionedJoinSpec, not here
      q
    } finally {
      prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
      s.conf.unset(s"spark.sql.catalog.$cat")
      s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  private val q154Oracle =
    """SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
       FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                    row_number() OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderkey) AS rn
             FROM orders)
       WHERE rn = 1 ORDER BY o_custkey"""

  // --------------------------------------------------------------------
  // q155 — PERCEPTUAL IMAGE NEAR-DUP (dHash + Hamming-banded self-join),
  // the multimodal sibling of q36/q38b: image payloads REALLY decode to
  // their pixel plane (graft.multimodal.Media — PNG chunk traversal,
  // zlib inflate, per-scanline unfilter, luma), 60-bit difference hash,
  // 4×15-bit pigeonhole bands → candidates are an exact band EQUI-JOIN
  // (any pair within Hamming 3 agrees on ≥ 1 band), each candidate
  // verified Hamming ≤ 3 and counted once at its first agreeing band.
  // 100 TB story: payload bytes never cross a shuffle — only 8-byte
  // hashes band and join; candidates = band-key collisions, no
  // all-pairs stage anywhere. Oracle recomputes the hash arithmetically
  // from the text body: the synthesized PNG's pixel plane IS the text
  // bytes (filter+deflate are exactly invertible, so the decoded luma
  // round-trips to them; the corpus is ASCII so DuckDB codepoints ==
  // payload bytes).
  // --------------------------------------------------------------------
  def q155ImageNearDup(s: SparkSession, dir: String): DataFrame = {
    // FIXTURE near-dups, built in-query: every 7th document gains a
    // copy with ONE substituted character (same length — the pixel-
    // aligned perturbation a re-encoded image shows). The corpus's
    // organic near-dups differ by an APPENDED suffix, which dHash over
    // a length-normalized grid correctly keeps far (length change ≠
    // same picture) — detection is proven on the aligned fixtures, and
    // the oracle reproduces the same perturbation + hash arithmetic.
    val base = lake(s, dir).documents.select(
      col("doc_id"), col("text"), col("source"))
    val perturbed = base.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + lit(1000000L)).as("doc_id"),
        concat(substring(col("text"), 1, 20), lit("Q"),
          substring(col("text"), 22, Int.MaxValue)).as("text"),
        col("source"))
    q155ImageNearDupOn(base.unionByName(perturbed))
  }

  /** The operator over an arbitrary documents frame (specs drive it on
    * fixture images). */
  private[graft] def q155ImageNearDupOn(documents: DataFrame): DataFrame = {
    implicit val spark: SparkSession = documents.sparkSession
    hammingBandedPairs(Media.imageHashes(documents).toDF("doc_id", "h"))
  }

  /** Near-dup candidate pairs over DISTINCT 60-bit hashes (one column
    * `h`, pre-collapsed): 4×15-bit pigeonhole bands (any pair within
    * Hamming 3 agrees on ≥ 1 band) → exact band EQUI-join → verify
    * Hamming ≤ 3, counting each hash pair once at its first agreeing
    * band. Output (ha, hb, hamming_dist) with ha < hb. Because the
    * input is collapsed, a band-key group contributes one row per
    * DISTINCT payload — a million exact copies of a meme cost the join
    * exactly one row, not 10¹² candidate pairs. */
  private[graft] def hammingBandedRepPairs(distinctHashes: DataFrame): DataFrame = {
    def band(h: Column, j: Int): Column =
      shiftright(h, 15 * j).bitwiseAND(lit(32767L))
    val banded = distinctHashes.select(col("h"),
      posexplode(array((0 until 4).map(j => band(col("h"), j)): _*))
        .as(Seq("band", "bval")))
    val firstMatch = (0 until 4).foldLeft(lit(null).cast(IntegerType)) {
      (acc, j) => coalesce(acc,
        when(band(col("a.h"), j) === band(col("b.h"), j), lit(j)))
    }
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval")
          && col("a.h") < col("b.h"))
      .filter(col("a.band") === firstMatch)
      .select(col("a.h").as("ha"), col("b.h").as("hb"),
        bit_count(col("a.h").bitwiseXOR(col("b.h")))
          .cast(IntegerType).as("hamming_dist"))
      .filter(col("hamming_dist") <= 3)
  }

  /** Hamming-banded near-dup pairs over 60-bit perceptual hashes
    * (doc_id, h), with the round-12 EXACT-HASH COLLAPSE: membership
    * first groups to distinct hashes, only representatives enter the
    * band join ([[hammingBandedRepPairs]]), then membership re-expands
    * — cross-group pairs via two hash equi-joins, within-group
    * (hamming 0) pairs via a membership self-join on the hash. Same
    * output contract as the naive banded self-join (all doc pairs at
    * Hamming ≤ 3, doc_a < doc_b), but the ENUMERATION is group-linear:
    * a hot group of n exact copies contributes 1 row to the band join
    * (was 4n banded rows → O(n²) in-group candidates). Only 8-byte
    * hashes ever cross a shuffle. The expansion joins are plain
    * fan-out — output size is the answer's size, never materialized
    * driver-side. */
  private def hammingBandedPairs(hashes0: DataFrame): DataFrame = {
    val spark = hashes0.sparkSession
    val members = graft.core.CacheScope.cached(
      hashes0.repartition(Scale.par(spark), col("h")))
    val distinctHashes = members.select("h").distinct()
    // the collapse aggregate must actually be in the plan the band
    // join consumes — require it, don't trust it (the q38b convention).
    // Matched at the BaseAggregateExec parent: Spark may legitimately
    // plan a distinct as ObjectHashAggregateExec or SortAggregateExec
    // (fallback configs, low memory) and any grouping aggregate IS the
    // collapse — only its physical strategy differs.
    require(graft.plans.AdaptivePlans.collectDeep(
      distinctHashes.queryExecution.executedPlan) {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.groupingExpressions.nonEmpty => a
      }.nonEmpty,
      "exact-hash collapse aggregate missing upstream of the band join")
    val repPairs = hammingBandedRepPairs(distinctHashes)
    val cross = repPairs
      .join(members.as("ma"), col("ma.h") === col("ha"))
      .join(members.as("mb"), col("mb.h") === col("hb"))
      .select(
        least(col("ma.doc_id"), col("mb.doc_id")).as("doc_a"),
        greatest(col("ma.doc_id"), col("mb.doc_id")).as("doc_b"),
        col("hamming_dist"))
    val within = members.as("x")
      .join(members.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(0).cast(IntegerType).as("hamming_dist"))
    cross.unionByName(within).orderBy(col("doc_a"), col("doc_b"))
  }

  /** The COLLAPSED near-dup surface — what a 100 TB pipeline actually
    * consumes (q159's composed dedup does): per-group membership
    * (h → representative = min doc_id, count) plus rep-level near-dup
    * edges between distinct hashes. Output size is O(groups + edges),
    * NEVER quadratic in any group's population — the full-pair
    * expansion above exists to honor the pairwise oracle contract, this
    * is the scale path. */
  private[graft] def hammingBandedGroups(
      hashes0: DataFrame): (DataFrame, DataFrame) = {
    val spark = hashes0.sparkSession
    val members = graft.core.CacheScope.cached(
      hashes0.repartition(Scale.par(spark), col("h")))
    val groups = members.groupBy(col("h"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("cnt"))
    val edges = hammingBandedRepPairs(groups.select(col("h")))
    (groups, edges)
  }

  private val q155Oracle =
    """WITH corpus AS (
         SELECT doc_id, text, source FROM documents
         UNION ALL
         SELECT doc_id + 1000000,
                concat(substr(text, 1, 20), 'Q', substr(text, 22)), source
         FROM documents WHERE doc_id % 7 = 0),
       img AS (
         SELECT doc_id, text, strlen(text) AS L FROM corpus
         WHERE CAST(substr(source, 4) AS INTEGER) % 3 = 0
           AND strlen(text) >= 66),
       grid AS (
         SELECT doc_id,
                list_transform(range(66), k ->
                  list_sum(list_transform(
                    range(k * L // 66, (k + 1) * L // 66),
                    i -> unicode(substr(text, CAST(i AS INTEGER) + 1, 1))))
                  // ((k + 1) * L // 66 - k * L // 66)) AS g
         FROM img),
       hsh AS (
         SELECT doc_id,
                CAST(list_sum(list_transform(range(60), b ->
                  CASE WHEN g[CAST((b // 10) * 11 + (b % 10) AS INTEGER) + 2]
                         > g[CAST((b // 10) * 11 + (b % 10) AS INTEGER) + 1]
                       THEN 1::BIGINT << CAST(b AS INTEGER) ELSE 0 END))
                  AS BIGINT) AS h
         FROM grid),
       bands AS (
         SELECT doc_id, h, b.b AS band, (h >> CAST(15 * b.b AS INTEGER)) & 32767 AS bval
         FROM hsh CROSS JOIN (SELECT unnest(range(4)) AS b) b),
       cand AS (
         SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b, x.h AS ha, y.h AS hb
         FROM bands x JOIN bands y
           ON x.band = y.band AND x.bval = y.bval AND x.doc_id < y.doc_id)
       SELECT doc_a, doc_b,
              CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming_dist
       FROM cand
       WHERE bit_count(xor(ha, hb)) <= 3
       ORDER BY doc_a, doc_b"""

  // --------------------------------------------------------------------
  // q160 — COLOR (YCbCr) IMAGE NEAR-DUP: the same corpus and fixtures as
  // q155, but the payloads are 3-COMPONENT 4:4:4 color JPEGs
  // (MediaCodec.writeJpegYccTiles — gray expressed in YCbCr: zero
  // chroma blocks that still entropy-decode like any photo's chroma)
  // decoded by the interleaved multi-component path: per-MCU the
  // decoder walks Y + Cb + Cr blocks with per-component DC predictors,
  // materializes the luma IDCT only, and the block means round-trip to
  // the text bytes. One picture must hash IDENTICALLY whether it
  // arrives as grayscale PNG (q155) or color JPEG (this query) — the
  // container-robustness a perceptual near-dup needs — so the oracle is
  // q155's arithmetic verbatim, and the spec additionally pins
  // hash-equality across the three containers. Same 100 TB shape: only
  // 8-byte hashes cross a shuffle, band equi-join over collapsed
  // representatives.
  // --------------------------------------------------------------------
  def q160ColorImageNearDup(s: SparkSession, dir: String): DataFrame = {
    val base = lake(s, dir).documents.select(
      col("doc_id"), col("text"), col("source"))
    val perturbed = base.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + lit(1000000L)).as("doc_id"),
        concat(substring(col("text"), 1, 20), lit("Q"),
          substring(col("text"), 22, Int.MaxValue)).as("text"),
        col("source"))
    implicit val spark: SparkSession = s
    hammingBandedPairs(
      Media.colorImageHashes(base.unionByName(perturbed)).toDF("doc_id", "h"))
  }

  // --------------------------------------------------------------------
  // q157 — VIDEO KEYFRAME NEAR-DUP, completing the modality triple:
  // video payloads carry one REAL baseline JPEG keyframe (the q56
  // frame-sample convention); the keyframe genuinely DECODES — Huffman
  // entropy decode, dequant, 8×8 IDCT — and the decoded luma reduces
  // to per-block means (the perceptual hash's first downsample stage),
  // then the shared 60-bit dHash + Hamming band join. Same in-query
  // fixtures, same arithmetic oracle shape with the video-modality
  // filter — valid because the constant-tile synthesis profile decodes
  // EXACTLY back to the text bytes (DC-only blocks with DC quant 8 are
  // the losslessly-invertible subset of JPEG, as filter+deflate were
  // exactly invertible for the PNG oracle).
  // --------------------------------------------------------------------
  def q157VideoNearDup(s: SparkSession, dir: String): DataFrame = {
    val base = lake(s, dir).documents.select(
      col("doc_id"), col("text"), col("source"))
    val perturbed = base.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + lit(1000000L)).as("doc_id"),
        concat(substring(col("text"), 1, 20), lit("Q"),
          substring(col("text"), 22, Int.MaxValue)).as("text"),
        col("source"))
    implicit val spark: SparkSession = s
    hammingBandedPairs(
      Media.videoKeyframeHashes(base.unionByName(perturbed)).toDF("doc_id", "h"))
  }

  private val q157Oracle =
    """WITH corpus AS (
         SELECT doc_id, text, source FROM documents
         UNION ALL
         SELECT doc_id + 1000000,
                concat(substr(text, 1, 20), 'Q', substr(text, 22)), source
         FROM documents WHERE doc_id % 7 = 0),
       vid AS (
         SELECT doc_id, text, strlen(text) AS L FROM corpus
         WHERE CAST(substr(source, 4) AS INTEGER) % 3 = 2
           AND strlen(text) >= 66),
       grid AS (
         SELECT doc_id,
                list_transform(range(66), k ->
                  list_sum(list_transform(
                    range(k * L // 66, (k + 1) * L // 66),
                    i -> unicode(substr(text, CAST(i AS INTEGER) + 1, 1))))
                  // ((k + 1) * L // 66 - k * L // 66)) AS g
         FROM vid),
       hsh AS (
         SELECT doc_id,
                CAST(list_sum(list_transform(range(60), b ->
                  CASE WHEN g[CAST((b // 10) * 11 + (b % 10) AS INTEGER) + 2]
                         > g[CAST((b // 10) * 11 + (b % 10) AS INTEGER) + 1]
                       THEN 1::BIGINT << CAST(b AS INTEGER) ELSE 0 END))
                  AS BIGINT) AS h
         FROM grid),
       bands AS (
         SELECT doc_id, h, b.b AS band, (h >> CAST(15 * b.b AS INTEGER)) & 32767 AS bval
         FROM hsh CROSS JOIN (SELECT unnest(range(4)) AS b) b),
       cand AS (
         SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b, x.h AS ha, y.h AS hb
         FROM bands x JOIN bands y
           ON x.band = y.band AND x.bval = y.bval AND x.doc_id < y.doc_id)
       SELECT doc_a, doc_b,
              CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming_dist
       FROM cand
       WHERE bit_count(xor(ha, hb)) <= 3
       ORDER BY doc_a, doc_b"""

  // --------------------------------------------------------------------
  // q156 — ACOUSTIC NEAR-DUP, the audio sibling of q155: WAV payloads
  // container-walk to their PCM `data` chunk (real RIFF traversal,
  // deterministic-fake decode), the same 60-bit difference hash (per-
  // window energy-delta signs — the Haitsma–Kalker acoustic-fingerprint
  // shape), the same 4×15-bit Hamming band join. Same fixtures: every
  // 7th document gains a one-sample-substituted copy. The oracle is
  // q155's arithmetic with the audio-modality filter (WAV stores the
  // body verbatim in its data chunk).
  // --------------------------------------------------------------------
  def q156AudioNearDup(s: SparkSession, dir: String): DataFrame = {
    val base = lake(s, dir).documents.select(
      col("doc_id"), col("text"), col("source"))
    val perturbed = base.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + lit(1000000L)).as("doc_id"),
        concat(substring(col("text"), 1, 20), lit("Q"),
          substring(col("text"), 22, Int.MaxValue)).as("text"),
        col("source"))
    implicit val spark: SparkSession = s
    hammingBandedPairs(
      Media.audioHashes(base.unionByName(perturbed)).toDF("doc_id", "h"))
  }

  private val q156Oracle =
    """WITH corpus AS (
         SELECT doc_id, text, source FROM documents
         UNION ALL
         SELECT doc_id + 1000000,
                concat(substr(text, 1, 20), 'Q', substr(text, 22)), source
         FROM documents WHERE doc_id % 7 = 0),
       aud AS (
         SELECT doc_id, text, strlen(text) AS L FROM corpus
         WHERE CAST(substr(source, 4) AS INTEGER) % 3 = 1
           AND strlen(text) >= 66),
       grid AS (
         SELECT doc_id,
                list_transform(range(66), k ->
                  list_sum(list_transform(
                    range(k * L // 66, (k + 1) * L // 66),
                    i -> unicode(substr(text, CAST(i AS INTEGER) + 1, 1))))
                  // ((k + 1) * L // 66 - k * L // 66)) AS g
         FROM aud),
       hsh AS (
         SELECT doc_id,
                CAST(list_sum(list_transform(range(60), b ->
                  CASE WHEN g[CAST((b // 10) * 11 + (b % 10) AS INTEGER) + 2]
                         > g[CAST((b // 10) * 11 + (b % 10) AS INTEGER) + 1]
                       THEN 1::BIGINT << CAST(b AS INTEGER) ELSE 0 END))
                  AS BIGINT) AS h
         FROM grid),
       bands AS (
         SELECT doc_id, h, b.b AS band, (h >> CAST(15 * b.b AS INTEGER)) & 32767 AS bval
         FROM hsh CROSS JOIN (SELECT unnest(range(4)) AS b) b),
       cand AS (
         SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b, x.h AS ha, y.h AS hb
         FROM bands x JOIN bands y
           ON x.band = y.band AND x.bval = y.bval AND x.doc_id < y.doc_id)
       SELECT doc_a, doc_b,
              CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming_dist
       FROM cand
       WHERE bit_count(xor(ha, hb)) <= 3
       ORDER BY doc_a, doc_b"""

  // --------------------------------------------------------------------
  // q158 — MULTI-KEYFRAME VIDEO SEQUENCE NEAR-DUP, the generalization
  // the q157 row's survey note names: a video is a SEQUENCE of sampled
  // keyframes (4 per video, frame k = the text rotated left 5k chars —
  // deterministic, length-preserving), each frame written as a real
  // baseline JPEG payload, REALLY decoded back (Huffman + dequant +
  // IDCT → block means, round 13) and dHash'd. ROUND 15: the frames
  // live inside ONE REAL MJPEG-in-AVI container per video
  // (MediaCodec.writeAvi — RIFF hdrl/movi/idx1 with true sizes) and
  // are recovered by the hostile-length-guarded RIFF walk before
  // decode, so the whole pipeline runs container-in, not convention-in. Pairs are scored
  // temporally-aligned: candidate frames band-join WITHIN a frame
  // index, a pair reports n_match = #frames at Hamming ≤ 3 and
  // surfaces at n_match ≥ 2 of 4 (majority-ish sequence evidence — a
  // single matching frame is a still-image coincidence, not a shared
  // video). Fixtures: every 7th video gains a copy with EXACTLY ONE
  // REPLACED frame (index = doc_id % 4, content = the reversed text —
  // structurally different, so its hash lands far) → the pair must
  // report n_match = 3 of 4, proving per-frame granularity (a one-char
  // edit would still match: dHash is robust to it by design — that
  // robustness is q155/q157's fixture, this one needs a CUT scene).
  // Scale shape: the
  // exact-hash collapse runs per (frame, hash) — distinct frame
  // payloads enter the band join once; only 8-byte hashes + frame
  // indices shuffle; within/cross expansion is join fan-out.
  // --------------------------------------------------------------------
  def q158VideoSequenceNearDup(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    import s.implicits._
    val vids = lake(s, dir).documents
      .filter((substring(col("source"), 4, 10).cast("int") % 3) === 2)
      .select(col("doc_id"), col("text")).as[(Long, String)]
    // SQL-substr rotation semantics (the oracle's concat/substr pair):
    // an offset at/past the length leaves the text unrotated
    def rot(t: String, k: Int): String = {
      val off = 5 * k
      if (off >= t.length) t else t.substring(off) + t.substring(0, off)
    }
    // ROUND 15: each video is ONE REAL MJPEG-in-AVI container — the 4
    // keyframe JPEGs assembled by a genuine RIFF writer, then recovered
    // by the RIFF walk (Media.aviFrameHashes) before decode. Narrow:
    // every container derives from its one document row, so synthesis
    // adds no shuffle; the fixture copies keep the round-13 shape
    // (every 7th video, frame doc_id%4 replaced by the reversed text).
    val avis = vids.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      // memoized per-task frame encoder: a fixture copy shares 3 of 4
      // keyframe texts with its base — those re-encodes are digest-memo
      // hits, restoring the encode-side distinct-payload collapse the
      // round-15 container move dropped (decode kept its memo all along)
      val enc = Media.memoFrameEncoder(md)
      rows.flatMap { case (id, text) =>
        val base = (id,
          Media.aviFromFrameTexts((0 to 3).map(k => rot(text, k)), enc))
        if (id % 7 == 0) {
          val p = text.reverse
          val pert = (id + 1000000L, Media.aviFromFrameTexts(
            (0 to 3).map(k => rot(if (k == (id % 4).toInt) p else text, k)), enc))
          Iterator(base, pert)
        } else Iterator.single(base)
      }
    }
    val members = graft.core.CacheScope.cached(
      Media.aviFrameHashes(avis)
        .toDF("doc_id", "k", "h")
        .repartition(Scale.par(s), col("k"), col("h")))
    val distinctKH = members.select("k", "h").distinct()
    def band(h: Column, j: Int): Column =
      shiftright(h, 15 * j).bitwiseAND(lit(32767L))
    val banded = distinctKH.select(col("k"), col("h"),
      posexplode(array((0 until 4).map(j => band(col("h"), j)): _*))
        .as(Seq("band", "bval")))
    val firstMatch = (0 until 4).foldLeft(lit(null).cast(IntegerType)) {
      (acc, j) => coalesce(acc,
        when(band(col("a.h"), j) === band(col("b.h"), j), lit(j)))
    }
    val frameEdges = banded.as("a")
      .join(banded.as("b"),
        col("a.k") === col("b.k") && col("a.band") === col("b.band") &&
          col("a.bval") === col("b.bval") && col("a.h") < col("b.h"))
      .filter(col("a.band") === firstMatch)
      .filter(bit_count(col("a.h").bitwiseXOR(col("b.h"))) <= 3)
      .select(col("a.k").as("ek"), col("a.h").as("ha"), col("b.h").as("hb"))
    val cross = frameEdges
      .join(members.as("ma"),
        col("ma.k") === col("ek") && col("ma.h") === col("ha"))
      .join(members.as("mb"),
        col("mb.k") === col("ek") && col("mb.h") === col("hb"))
      .select(least(col("ma.doc_id"), col("mb.doc_id")).as("doc_a"),
        greatest(col("ma.doc_id"), col("mb.doc_id")).as("doc_b"))
    val within = members.as("x")
      .join(members.as("y"),
        col("x.k") === col("y.k") && col("x.h") === col("y.h") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    cross.unionByName(within)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_match"))
      .filter(col("n_match") >= 2)
      .select(col("doc_a"), col("doc_b"), col("n_match"),
        (col("n_match") / lit(4.0)).as("match_frac"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val q158Oracle =
    """WITH vid AS (
         SELECT doc_id, text FROM documents
         WHERE CAST(substr(source, 4) AS INTEGER) % 3 = 2),
       frames AS (
         SELECT doc_id, k.k AS k,
                concat(substr(text, CAST(5 * k.k + 1 AS INTEGER)),
                       substr(text, 1, CAST(5 * k.k AS INTEGER))) AS ft
         FROM vid CROSS JOIN (SELECT unnest(range(4)) AS k) k
         UNION ALL
         SELECT doc_id + 1000000, k.k,
                CASE WHEN k.k = doc_id % 4
                     THEN concat(substr(p, CAST(5 * k.k + 1 AS INTEGER)),
                                 substr(p, 1, CAST(5 * k.k AS INTEGER)))
                     ELSE concat(substr(text, CAST(5 * k.k + 1 AS INTEGER)),
                                 substr(text, 1, CAST(5 * k.k AS INTEGER))) END
         FROM (SELECT doc_id, text, reverse(text) AS p
               FROM vid WHERE doc_id % 7 = 0)
         CROSS JOIN (SELECT unnest(range(4)) AS k) k),
       fr AS (SELECT doc_id, k, ft, strlen(ft) AS L
              FROM frames WHERE strlen(ft) >= 66),
       grid AS (
         SELECT doc_id, k,
                list_transform(range(66), c ->
                  list_sum(list_transform(
                    range(c * L // 66, (c + 1) * L // 66),
                    i -> unicode(substr(ft, CAST(i AS INTEGER) + 1, 1))))
                  // ((c + 1) * L // 66 - c * L // 66)) AS g
         FROM fr),
       hsh AS (
         SELECT doc_id, k,
                CAST(list_sum(list_transform(range(60), b ->
                  CASE WHEN g[CAST((b // 10) * 11 + (b % 10) AS INTEGER) + 2]
                         > g[CAST((b // 10) * 11 + (b % 10) AS INTEGER) + 1]
                       THEN 1::BIGINT << CAST(b AS INTEGER) ELSE 0 END))
                  AS BIGINT) AS h
         FROM grid),
       bands AS (
         SELECT doc_id, k, h, b.b AS band,
                (h >> CAST(15 * b.b AS INTEGER)) & 32767 AS bval
         FROM hsh CROSS JOIN (SELECT unnest(range(4)) AS b) b),
       fm AS (
         SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b, x.k AS k
         FROM bands x JOIN bands y
           ON x.k = y.k AND x.band = y.band AND x.bval = y.bval
          AND x.doc_id < y.doc_id
         WHERE bit_count(xor(x.h, y.h)) <= 3),
       agg AS (SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_match
               FROM fm GROUP BY doc_a, doc_b)
       SELECT doc_a, doc_b, n_match, n_match / 4.0 AS match_frac
       FROM agg WHERE n_match >= 2 ORDER BY doc_a, doc_b"""

  // --------------------------------------------------------------------
  // q169 — SOUNDTRACK NEAR-DUP FROM THE A/V CONTAINER (round 16): one
  // REAL MJPEG-in-AVI container per video now carries TWO modalities —
  // an interleaved '01wb' PCM audio stream next to the '00dc'
  // keyframes (writeAvi's auds strl + block-aligned chunk split). The
  // query runs the full container-in audio path: RIFF hdrl walk →
  // WAVEFORMAT strf → '01wb' concatenation → canonical WAV rewrap
  // (aviAudioWav) → the EXISTING WAV decode plane (decodeWavSamples)
  // → acoustic dHash → the q156 Hamming band join. Fixtures: q156's —
  // every 7th video gains a one-sample-substituted soundtrack copy.
  // The oracle is q156's arithmetic on the VIDEO modality (PCM body =
  // text bytes, u8 mono decode = identity, and the container walk is
  // byte-exact — which is exactly what the row proves). Scale shape:
  // synthesis + demux + decode are narrow per-row work; only 8-byte
  // hashes shuffle into the band join.
  // --------------------------------------------------------------------
  def q169AviSoundtrackNearDup(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    import s.implicits._
    val base = lake(s, dir).documents
      .filter((substring(col("source"), 4, 10).cast("int") % 3) === 2)
      .select(col("doc_id"), col("text"))
    val perturbed = base.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + lit(1000000L)).as("doc_id"),
        concat(substring(col("text"), 1, 20), lit("Q"),
          substring(col("text"), 22, Int.MaxValue)).as("text"))
    val hashes = base.unionByName(perturbed)
      .transform(Scale.spread(_, col("doc_id"))) // scale-adaptive (r17)
      .as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.flatMap { case (id, text) =>
          // a genuinely interleaved container: two keyframes + the
          // soundtrack (u8 mono PCM = the text bytes, the audio-
          // modality payload convention)
          val frames = Seq(text, text.reverse).map(t =>
            Media.MediaCodec.encodeForOpt("video", t, md)
              .getOrElse(Array.emptyByteArray))
          val avi = Media.MediaCodec.writeAvi(frames,
            audio = Some(Media.MediaCodec.AviAudio(8000, 1,
              text.getBytes(java.nio.charset.StandardCharsets.UTF_8))))
          Media.MediaCodec.aviAudioWav(avi)
            .flatMap(Media.MediaCodec.decodeWavSamples)
            .filter(_.length >= 66)
            .map(p => (id, Media.MediaCodec.dHash60(p)))
        }
      }
      .toDF("doc_id", "h")
    hammingBandedPairs(hashes)
  }

  private val q169Oracle =
    """WITH corpus AS (
         SELECT doc_id, text, source FROM documents
         UNION ALL
         SELECT doc_id + 1000000,
                concat(substr(text, 1, 20), 'Q', substr(text, 22)), source
         FROM documents WHERE doc_id % 7 = 0),
       aud AS (
         SELECT doc_id, text, strlen(text) AS L FROM corpus
         WHERE CAST(substr(source, 4) AS INTEGER) % 3 = 2
           AND strlen(text) >= 66),
       grid AS (
         SELECT doc_id,
                list_transform(range(66), k ->
                  list_sum(list_transform(
                    range(k * L // 66, (k + 1) * L // 66),
                    i -> unicode(substr(text, CAST(i AS INTEGER) + 1, 1))))
                  // ((k + 1) * L // 66 - k * L // 66)) AS g
         FROM aud),
       hsh AS (
         SELECT doc_id,
                CAST(list_sum(list_transform(range(60), b ->
                  CASE WHEN g[CAST((b // 10) * 11 + (b % 10) AS INTEGER) + 2]
                         > g[CAST((b // 10) * 11 + (b % 10) AS INTEGER) + 1]
                       THEN 1::BIGINT << CAST(b AS INTEGER) ELSE 0 END))
                  AS BIGINT) AS h
         FROM grid),
       bands AS (
         SELECT doc_id, h, b.b AS band, (h >> CAST(15 * b.b AS INTEGER)) & 32767 AS bval
         FROM hsh CROSS JOIN (SELECT unnest(range(4)) AS b) b),
       cand AS (
         SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b, x.h AS ha, y.h AS hb
         FROM bands x JOIN bands y
           ON x.band = y.band AND x.bval = y.bval AND x.doc_id < y.doc_id)
       SELECT doc_a, doc_b,
              CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming_dist
       FROM cand
       WHERE bit_count(xor(ha, hb)) <= 3
       ORDER BY doc_a, doc_b"""

  // --------------------------------------------------------------------
  // q159 — COMPOSED MEDIA DEDUP (the q63/q140 of media): the four
  // stages of a production multimodal dedup, run TOGETHER and
  // oracle-checked end-to-end.
  //   1. exact payload dedup — md5 over the REAL container bytes,
  //      group to (rep, count); a 100 TB corpus decodes each distinct
  //      payload once, which is why this stage comes first;
  //   2. perceptual fingerprint per DISTINCT payload, all three
  //      modalities in one scan pass (image really decodes:
  //      inflate + unfilter + luma);
  //   3. hash-group collapse + Hamming band join (within modality) →
  //      rep-level near-dup edges → transitive clustering with
  //      ConnectedComponents ON THE REP GRAPH ONLY (membership stars
  //      are post-fixpoint joins, not propagation rounds);
  //   4. keep-best survivor per cluster (longest text, ties → lowest
  //      doc_id) with cluster sizes.
  // Fixtures: every 7th doc gains a one-char-substituted NEAR copy
  // (+1e6), every 11th an EXACT copy (+2e6) — so every stage fires and
  // the cluster {base, near, exact} must come out as ONE component
  // with the base as survivor. Scale shape: stages 1–3 shuffle hashes
  // and 16-byte keys only (payloads never leave their scan task);
  // no stage enumerates within-group pairs — membership edges are
  // group-linear (doc → rep stars), the closure is edge-linear.
  // --------------------------------------------------------------------
  def q159MediaDedupPipeline(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    val base = lake(s, dir).documents
      .select(col("doc_id"), col("text"), col("source"))
    val nearCopy = base.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(substring(col("text"), 1, 20), lit("Q"),
          substring(col("text"), 22, Int.MaxValue)).as("text"), col("source"))
    val exactCopy = base.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"), col("source"))
    val corpus = graft.core.CacheScope.cached(
      base.unionByName(nearCopy).unionByName(exactCopy)
        .transform(Scale.spread(_, col("doc_id")))) // scale-adaptive (r17)
    // stage 1: exact payload dedup
    val keyed = graft.core.CacheScope.cached(
      Media.payloadKeys(corpus).toDF("doc_id", "fmt", "pkey")
        .repartition(Scale.par(s), col("pkey")))
    val exactGroups = graft.core.CacheScope.cached(
      keyed.groupBy(col("fmt"), col("pkey"))
        .agg(min(col("doc_id")).as("xrep")))
    // stage 2: fingerprint once per distinct payload
    val repDocs = corpus.join(exactGroups.select(col("xrep")),
      corpus("doc_id") === col("xrep"), "left_semi")
    val hashes = graft.core.CacheScope.cached(
      Media.perceptualHashesAll(repDocs).toDF("doc_id", "fmt", "h")
        .repartition(Scale.par(s), col("fmt"), col("h")))
    // stage 3: collapse → banded rep edges (within modality) → closure
    val hashGroups = graft.core.CacheScope.cached(
      hashes.groupBy(col("fmt"), col("h")).agg(min(col("doc_id")).as("hrep")))
    def band(h: Column, j: Int): Column =
      shiftright(h, 15 * j).bitwiseAND(lit(32767L))
    val banded = hashGroups.select(col("fmt"), col("h"),
      posexplode(array((0 until 4).map(j => band(col("h"), j)): _*))
        .as(Seq("band", "bval")))
    val firstMatch = (0 until 4).foldLeft(lit(null).cast(IntegerType)) {
      (acc, j) => coalesce(acc,
        when(band(col("a.h"), j) === band(col("b.h"), j), lit(j)))
    }
    val hashEdges = banded.as("a")
      .join(banded.as("b"),
        col("a.fmt") === col("b.fmt") && col("a.band") === col("b.band") &&
          col("a.bval") === col("b.bval") && col("a.h") < col("b.h"))
      .filter(col("a.band") === firstMatch)
      .filter(bit_count(col("a.h").bitwiseXOR(col("b.h"))) <= 3)
      .select(col("a.fmt").as("efmt"), col("a.h").as("ha"), col("b.h").as("hb"))
    val repEdges = hashEdges
      .join(hashGroups.as("ga"),
        col("ga.fmt") === col("efmt") && col("ga.h") === col("ha"))
      .join(hashGroups.as("gb"),
        col("gb.fmt") === col("efmt") && col("gb.h") === col("hb"))
      .select(col("ga.hrep").as("a"), col("gb.hrep").as("b"))
    // The iterative closure runs on the REP-LEVEL graph ONLY (one
    // vertex per distinct (modality, hash), edges = near-dup rep
    // pairs) — membership stars (doc → exact rep → hash rep) don't
    // need label propagation, they are plain joins applied AFTER the
    // fixpoint. This keeps CC's per-round join O(distinct payloads)
    // and the diameter equal to the true near-dup chain length, not
    // chain + 4 star hops. Label algebra: hrep = min doc id of its
    // hash group (reps are min-of-mins), so the component minimum over
    // hreps IS the cluster's minimum doc id; exact groups whose rep
    // never fingerprinted (plane < 66 bytes) stay closed under their
    // xrep — coalesce order below encodes exactly that.
    val cc = graft.operators.ConnectedComponents.run(repEdges, "a", "b")
    val hrepLabel = hashGroups
      .join(cc.withColumnRenamed("id", "hrep"), Seq("hrep"), "left")
      .select(col("fmt"), col("h"),
        coalesce(col("component"), col("hrep")).as("hcomp"))
    // xrep → cluster (via its hash membership, when it has one)
    val xrepLabel = hashes.join(hrepLabel, Seq("fmt", "h"))
      .select(col("doc_id").as("xrep"), col("hcomp"))
    // stage 4: label everyone (singletons keep their own id), keep-best
    val labeled = corpus.select(col("doc_id"), col("text"))
      .join(keyed.join(exactGroups, Seq("fmt", "pkey"))
        .select(col("doc_id"), col("xrep")), Seq("doc_id"))
      .join(xrepLabel, Seq("xrep"), "left")
      .select(col("doc_id"), col("text"),
        coalesce(col("hcomp"), col("xrep")).as("cluster"))
    val best = labeled.groupBy(col("cluster")).agg(
      count(lit(1)).as("cluster_size"),
      max(struct(length(col("text")).as("len"), (-col("doc_id")).as("nid")))
        .as("b"))
    labeled.join(best, Seq("cluster"))
      .select(col("doc_id"), col("cluster"), col("cluster_size"),
        (col("doc_id") === -col("b.nid")).as("is_survivor"))
      .orderBy(col("doc_id"))
  }

  private val q159Oracle =
    """WITH RECURSIVE corpus AS (
         SELECT doc_id, text, source FROM documents
         UNION ALL
         SELECT doc_id + 1000000,
                concat(substr(text, 1, 20), 'Q', substr(text, 22)), source
         FROM documents WHERE doc_id % 7 = 0
         UNION ALL
         SELECT doc_id + 2000000, text, source
         FROM documents WHERE doc_id % 11 = 0),
       doc AS (SELECT doc_id, text,
                      CAST(substr(source, 4) AS INTEGER) % 3 AS m,
                      strlen(text) AS L
               FROM corpus),
       xg AS (SELECT m, text, min(doc_id) AS xrep FROM doc GROUP BY m, text),
       xmem AS (SELECT d.doc_id, x.xrep
                FROM doc d JOIN xg x ON d.m = x.m AND d.text = x.text),
       hd AS (SELECT d.doc_id, d.m, d.text AS ft, d.L
              FROM doc d JOIN xg x ON d.doc_id = x.xrep
              WHERE d.L >= 66),
       grid AS (
         SELECT doc_id, m,
                list_transform(range(66), c ->
                  list_sum(list_transform(
                    range(c * L // 66, (c + 1) * L // 66),
                    i -> unicode(substr(ft, CAST(i AS INTEGER) + 1, 1))))
                  // ((c + 1) * L // 66 - c * L // 66)) AS g
         FROM hd),
       hsh AS (
         SELECT doc_id, m,
                CAST(list_sum(list_transform(range(60), b ->
                  CASE WHEN g[CAST((b // 10) * 11 + (b % 10) AS INTEGER) + 2]
                         > g[CAST((b // 10) * 11 + (b % 10) AS INTEGER) + 1]
                       THEN 1::BIGINT << CAST(b AS INTEGER) ELSE 0 END))
                  AS BIGINT) AS h
         FROM grid),
       hg AS (SELECT m, h, min(doc_id) AS hrep FROM hsh GROUP BY m, h),
       hmem AS (SELECT s.doc_id, g.hrep
                FROM hsh s JOIN hg g ON s.m = g.m AND s.h = g.h),
       bands AS (SELECT m, h, b.b AS band,
                        (h >> CAST(15 * b.b AS INTEGER)) & 32767 AS bval
                 FROM hg CROSS JOIN (SELECT unnest(range(4)) AS b) b),
       rede AS (SELECT DISTINCT x.m, x.h AS ha, y.h AS hb
                FROM bands x JOIN bands y
                  ON x.m = y.m AND x.band = y.band AND x.bval = y.bval
                 AND x.h < y.h
                WHERE bit_count(xor(x.h, y.h)) <= 3),
       re AS (SELECT ga.hrep AS a, gb.hrep AS b
              FROM rede JOIN hg ga ON rede.m = ga.m AND rede.ha = ga.h
                        JOIN hg gb ON rede.m = gb.m AND rede.hb = gb.h),
       alledges AS (SELECT doc_id AS a, xrep AS b FROM xmem
                    UNION SELECT doc_id, hrep FROM hmem
                    UNION SELECT a, b FROM re),
       edges AS (SELECT a, b FROM alledges UNION SELECT b, a FROM alledges),
       reach(a, b) AS (
         SELECT doc_id, doc_id FROM doc
         UNION
         SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       lab AS (SELECT a AS doc_id, min(b) AS cluster FROM reach GROUP BY a),
       j AS (SELECT l.doc_id, l.cluster, d.L
             FROM lab l JOIN doc d ON l.doc_id = d.doc_id),
       rk AS (SELECT doc_id, cluster,
                     CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT)
                       AS cluster_size,
                     row_number() OVER (PARTITION BY cluster
                                        ORDER BY L DESC, doc_id ASC) AS rn
              FROM j)
       SELECT doc_id, cluster, cluster_size, (rn = 1) AS is_survivor
       FROM rk ORDER BY doc_id"""

  private val q153Oracle =
    """SELECT c_custkey,
              CAST(count(*) AS BIGINT) AS n_orders,
              CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price
       FROM customer JOIN orders ON c_custkey = o_custkey
       GROUP BY c_custkey ORDER BY c_custkey"""

  private val q152Oracle =
    """SELECT c_custkey,
              CAST(c_acctbal AS DOUBLE) AS acctbal,
              CAST(count(*) AS BIGINT) AS n_orders,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
       FROM customer JOIN orders ON c_custkey = o_custkey
       GROUP BY c_custkey, c_acctbal ORDER BY c_custkey"""

  private val q148Oracle =
    """SELECT o_orderpriority,
              CAST(count(*) AS BIGINT) AS n_orders,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  private val q146Oracle =
    """SELECT c_mktsegment,
              CAST(count(*) AS BIGINT) AS n_orders,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       FROM orders JOIN customer ON o_custkey = c_custkey
       GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  // --------------------------------------------------------------------
  // q143 — metadata-only TYPE WIDENING (`type.widening`, the Delta 3.2
  // typeWidening shape): an orders table created with INT keys and
  // FLOAT prices outgrows both; ALTER-style widening to BIGINT/DOUBLE
  // commits pure metadata (require'd: identical data-file set), old
  // files up-cast at scan time, and a post-widen append lands values
  // no INT could hold. 100 TB story: the one schema evolution a grown
  // table actually needs, at zero data IO — where a rewrite would be a
  // full-table pass.
  def q143TypeWidening(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val root = s"${scratch("widen", dir)}/orders_narrow"
    graft.core.Fs.rmTree(new java.io.File(root))
    val t = new graft.medallion.GraftTable(root)
    val base = lake(s, dir).orders.select(
      col("o_orderkey").cast("int").as("o_key"),
      col("o_totalprice").cast("float").as("o_price"))
      .transform(graft.core.CacheScope.cached) // one source scan per query (r16 opt, guide §1.2/§5)
    t.append(base.filter(col("o_key") % 2 === 0))
    t.append(base.filter(col("o_key") % 2 === 1))
    t.setProperty(graft.medallion.TxLog.TypeWideningProp, "true")
    val filesBefore = t.snapshot().files.map(_.path).toSet
    t.widenColumn("o_key", LongType)
    t.widenColumn("o_price", DoubleType)
    require(t.snapshot().files.map(_.path).toSet == filesBefore,
      "type widening must be metadata-only — zero data files touched")
    require(t.snapshot().schema("o_key").dataType == LongType &&
      t.snapshot().schema("o_price").dataType == DoubleType)
    import s.implicits._
    t.append(Seq((5000000000L, 123.5)).toDF("o_key", "o_price"))
    t.read(s).orderBy("o_key")
  }

  private val q143Oracle =
    """SELECT CAST(o_orderkey AS BIGINT) AS o_key,
              CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS o_price
       FROM orders
       UNION ALL
       SELECT CAST(5000000000 AS BIGINT), CAST(123.5 AS DOUBLE)
       ORDER BY o_key"""

  // --------------------------------------------------------------------
  // q142 — merge-on-read UPDATE through SQL (`update.mode =
  // merge-on-read`, the Delta DV-backed DML shape): a sparse UPDATE
  // (~1% of rows) on a multi-file orders table must commit as
  // deletion-vector entries + a post-image append — ZERO data-file
  // rewrites (require'd) — with the change feed serving the exact
  // pre/post pair count, and a purge laundering the DVs back out
  // without changing a single row. 100 TB story: the commit moves
  // (changed rows) bytes, never (touched files) bytes — the
  // write-amplification gap copy-on-write leaves open.
  def q142SqlMorUpdate(s: SparkSession, dir: String): DataFrame = {
    val wh = s"${scratch("morupd", dir)}/warehouse"
    graft.core.Fs.rmTree(new java.io.File(wh))
    val cat = s"gq142_${math.abs(wh.hashCode).toString.take(8)}"
    graft.api.Graft.registerCatalog(s, cat, wh)
    try {
      graft.core.CacheScope.cached(lake(s, dir).orders
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus")))
        .createOrReplaceTempView("q142_src") // 4 INSERT scans serve from one read (r16 opt)
      s.sql(s"CREATE TABLE $cat.d.ord (o_orderkey BIGINT, " +
        "o_totalprice DOUBLE, o_orderstatus STRING)")
      (0 to 3).foreach(i => s.sql(
        s"""INSERT INTO $cat.d.ord
           SELECT o_orderkey, o_totalprice, o_orderstatus FROM q142_src
           WHERE o_orderkey % 4 = $i"""))
      s.sql(s"ALTER TABLE $cat.d.ord SET TBLPROPERTIES " +
        s"('${graft.medallion.TxLog.CdfEnabledProp}' = 'true', " +
        s"'${graft.medallion.TxLog.UpdateModeProp}' = " +
        s"'${graft.medallion.TxLog.DeleteModeMor}')")
      val t = new graft.medallion.GraftTable(s"$wh/d/ord")
      val filesBefore = t.snapshot().files.map(_.path).toSet
      val v0 = t.latestVersion()
      s.sql(s"UPDATE $cat.d.ord SET o_totalprice = o_totalprice * 2 " +
        "WHERE o_orderkey % 97 = 0")
      val snap = t.snapshot()
      require(filesBefore.subsetOf(snap.files.map(_.path).toSet),
        "a sparse merge-on-read UPDATE must rewrite ZERO data files — " +
          "every pre-update file stays live (matched ones gain a DV)")
      require(snap.files.exists(_.dv.isDefined),
        "the update must have landed as deletion vectors")
      // the feed serves the exact pre/post pair per updated row
      val nChanges = t.readChangeFeed(s, sinceVersion = v0).count()
      // purge: DVs materialize out, rows stay byte-identical
      t.purgeDeletes(s)
      require(t.snapshot().files.forall(_.dv.isEmpty),
        "purge must launder every deletion vector")
      s.sql(s"""SELECT o_orderkey, o_totalprice, o_orderstatus,
                       CAST($nChanges AS BIGINT) AS n_changes
               FROM $cat.d.ord ORDER BY o_orderkey""")
    } finally {
      s.catalog.dropTempView("q142_src")
      s.conf.unset(s"spark.sql.catalog.$cat")
      s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  private val q142Oracle =
    """WITH upd AS (
         SELECT o_orderkey,
                CASE WHEN o_orderkey % 97 = 0
                     THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
                o_orderstatus
         FROM orders)
       SELECT o_orderkey, o_totalprice, o_orderstatus,
              (SELECT CAST(2 * count(*) AS BIGINT) FROM orders
               WHERE o_orderkey % 97 = 0) AS n_changes
       FROM upd ORDER BY o_orderkey"""

  private val q141Oracle =
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
              CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
              CAST(sum(o_custkey) AS BIGINT) AS sum_cust
       FROM orders"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q143_type_widening" -> (q143TypeWidening _),
    "q145_hilbert_layout" -> (q145HilbertLayout _),
    "q146_spj_join" -> (q146SpjJoin _),
    "q147_replace_where" -> (q147ReplaceWhere _),
    "q148_spj_composite" -> (q148SpjComposite _),
    "q149_spj_agg" -> (q149SpjAgg _),
    "q150_spj_window" -> (q150SpjWindow _),
    "q151_spj_merge" -> (q151SpjMerge _),
    "q152_spj_sorted" -> (q152SpjSorted _),
    "q153_stream_sorted" -> (q153StreamSorted _),
    "q154_spj_window_sorted" -> (q154SpjWindowSorted _),
    "q155_image_neardup" -> (q155ImageNearDup _),
    "q156_audio_neardup" -> (q156AudioNearDup _),
    "q157_video_neardup" -> (q157VideoNearDup _),
    "q158_video_seq_neardup" -> (q158VideoSequenceNearDup _),
    "q169_avi_soundtrack_neardup" -> (q169AviSoundtrackNearDup _),
    "q159_media_dedup" -> (q159MediaDedupPipeline _),
    "q160_color_image_neardup" -> (q160ColorImageNearDup _),
    "q142_sql_mor_update" -> (q142SqlMorUpdate _),
    "q141_metadata_sum" -> (q141MetadataSum _),
    "q139_generated_columns" -> (q139GeneratedColumns _),
    "q136_hidden_partitioning" -> (q136HiddenPartitioning _),
    "q134_cdf_update_images" -> (q134CdfUpdateImages _),
    "q133_cdc_replication" -> (q133CdcReplication _),
    "q130_change_feed" -> (q130ChangeFeed _),
    "q131_cdf_mv" -> (q131CdfMv _),
    "q128_deletion_vectors" -> (q128DeletionVectors _),
    "q129_sql_mor_delete" -> (q129SqlMorDelete _),
    "q171_dv_columnar_scan" -> (q171DvColumnarScan _),
    "q118_incremental_mv" -> (q118IncrementalMv _),
    "q119_constraints_restore" -> (q119ConstraintsRestore _),
    "q122_clone_fork" -> (q122CloneFork _),
    "q42_multimodal_meta" -> (q42MultimodalMeta _),
    "q43_sessionize" -> (q43Sessionize _),
    "q44_medallion_e2e" -> (q44MedallionE2e _),
    "q45_streaming_hourly" -> (q45StreamingHourly _),
    "q162_stream_stream_join" -> (q162StreamStreamJoin _),
    "q165_row_tracking" -> (q165RowTracking _),
    "q59_session_window" -> (q59SessionWindow _),
    "q64_stream_static_join" -> (q64StreamStaticJoin _),
    "q78_funnel" -> (q78Funnel _),
    "q79_retention" -> (q79Retention _),
    "q82_cdc_upsert" -> (q82CdcUpsert _),
    "q84_cdc_partitioned" -> (q84CdcPartitioned _),
    "q88_table_format" -> (q88TableFormat _),
    "q99_table_pipeline" -> (q99TablePipeline _),
    "q104_schema_evolution" -> (q104SchemaEvolution _),
    "q105_zorder" -> (q105Zorder _),
    "q106_stream_maintenance" -> (q106StreamMaintenance _),
    "q107_time_travel" -> (q107TimeTravel _),
    "q109_metadata_agg" -> (q109MetadataAgg _),
    "q110_grouped_metadata_agg" -> (q110GroupedMetadataAgg _),
    "q111_range_delete" -> (q111RangeDelete _),
    "q113_sql_dml" -> (q113SqlDml _),
    "q114_sql_merge" -> (q114SqlMerge _),
    "q124_sql_maintenance" -> (q124SqlMaintenance _),
    "q125_timestamp_travel" -> (q125TimestampTravel _),
    "q127_bloom_lookup" -> (q127BloomLookup _))

  val oracle: Map[String, String] = Map(
    "q143_type_widening" -> q143Oracle,
    "q145_hilbert_layout" -> q145Oracle,
    "q146_spj_join" -> q146Oracle,
    "q147_replace_where" -> q147Oracle,
    "q148_spj_composite" -> q148Oracle,
    "q149_spj_agg" -> q149Oracle,
    "q150_spj_window" -> q150Oracle,
    "q151_spj_merge" -> q151Oracle,
    "q152_spj_sorted" -> q152Oracle,
    "q153_stream_sorted" -> q153Oracle,
    "q154_spj_window_sorted" -> q154Oracle,
    "q155_image_neardup" -> q155Oracle,
    "q156_audio_neardup" -> q156Oracle,
    "q157_video_neardup" -> q157Oracle,
    "q158_video_seq_neardup" -> q158Oracle,
    "q169_avi_soundtrack_neardup" -> q169Oracle,
    "q159_media_dedup" -> q159Oracle,
    // q160 shares q155's oracle VERBATIM: the color JPEG's decoded
    // block means equal the grayscale PNG's decoded plane (both are
    // the text bytes), so the same arithmetic predicts both — that
    // equality IS the point of the query.
    "q160_color_image_neardup" -> q155Oracle,
    "q142_sql_mor_update" -> q142Oracle,
    "q141_metadata_sum" -> q141Oracle,
    "q139_generated_columns" -> q139Oracle,
    "q136_hidden_partitioning" -> q136Oracle,
    "q134_cdf_update_images" -> q134Oracle,
    "q133_cdc_replication" -> q133Oracle,
    "q130_change_feed" -> q130Oracle,
    "q131_cdf_mv" -> q131Oracle,
    "q128_deletion_vectors" -> q128Oracle,
    "q129_sql_mor_delete" -> q129Oracle,
    "q171_dv_columnar_scan" -> q171Oracle,
    "q118_incremental_mv" -> q118Oracle,
    "q119_constraints_restore" -> q119Oracle,
    "q122_clone_fork" -> q122Oracle,
    "q42_multimodal_meta" -> q42Oracle,
    "q43_sessionize" -> q43Oracle,
    "q44_medallion_e2e" -> q44Oracle,
    "q45_streaming_hourly" -> q45Oracle,
    "q162_stream_stream_join" -> q162Oracle,
    "q165_row_tracking" -> q165Oracle,
    "q59_session_window" -> q59Oracle,
    "q64_stream_static_join" -> q64Oracle,
    "q78_funnel" -> q78Oracle,
    "q79_retention" -> q79Oracle,
    "q82_cdc_upsert" -> q82Oracle,
    "q84_cdc_partitioned" -> q84Oracle,
    "q88_table_format" -> q88Oracle,
    "q99_table_pipeline" -> q99Oracle,
    "q104_schema_evolution" -> q104Oracle,
    "q105_zorder" -> q105Oracle,
    "q106_stream_maintenance" -> q106Oracle,
    "q107_time_travel" -> q107Oracle,
    "q109_metadata_agg" -> q109Oracle,
    "q110_grouped_metadata_agg" -> q110Oracle,
    "q111_range_delete" -> q111Oracle,
    "q113_sql_dml" -> q113Oracle,
    "q114_sql_merge" -> q114Oracle,
    "q124_sql_maintenance" -> q124Oracle,
    "q125_timestamp_travel" -> q125Oracle,
    "q127_bloom_lookup" -> q127Oracle)
}
