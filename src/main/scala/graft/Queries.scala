package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.algorithms.GraphAlgorithms
import graft.cypher.Cypher
import graft.pipeline.{BpeVocab, Dedup, Multimodal, Sampling, Similarity, Sketches, TextAnalysis}
import graft.sources.TpchBridge
import graft.streaming.StreamingTriangles

/**
 * The declared operator surface: every entry is one operator/capability
 * from SURVEY.md §2 (or a training-data-pipeline extension) exercised on
 * the driver's parquet tables, paired where possible with an exact DuckDB
 * oracle over the same tables.
 *
 * Determinism rules used throughout so Spark and DuckDB hash-match:
 *  - money sums go through DECIMAL(18,2) (exact) and back to DOUBLE;
 *  - floating aggregates are ROUND(x, 6) after exact-or-stable math;
 *  - embeddings are cast FLOAT→DOUBLE before any arithmetic in BOTH
 *    engines, and dot products reduce in array order;
 *  - every result has a total ORDER BY (unique tie-break) — sorts are
 *    eliminated by Catalyst under count-only execution, so bench timings
 *    don't pay for them.
 */
object Queries {

  type Q = (SparkSession, String) => DataFrame

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    TpchBridge.table(spark, dir, name)

  /**
   * The events table with `ts` normalized to raw int64 epoch NANOS.
   * The driver has shipped two physical layouts for events.parquet:
   * int64 TIMESTAMP(NANOS) (readable as long via the legacy
   * nanosAsLong conf) and plain timestamp[us] (read as TIMESTAMP_NTZ).
   * Downstream operators do exact integer arithmetic on nanos, so both
   * layouts converge here; the session timezone is pinned to UTC, so
   * the NTZ wall time round-trips exactly.
   */
  private def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t(s, d, "events")
    df.schema("ts").dataType match {
      case LongType => df
      case _ => df.withColumn("ts",
        unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
    }
  }

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  private def money(c: Column): Column = round(c, 2).cast(DoubleType)

  /** revenue expression: exact decimal l_extendedprice * (1 - l_discount) */
  private def revenue: Column =
    dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(3, 2)) - col("l_discount").cast(DecimalType(3, 2)))
  private val revenueSql =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))"

  // ======================================================================
  // Relational core (Filter/Projection/Aggregation/OrderBy/Limit/Skip/
  // Distinct/CartesianProduct equivalents on the raw tables)
  // ======================================================================

  val relational: Map[String, (Q, Option[String])] = Map(
    "q1_agg" -> ((
      (s: SparkSession, d: String) =>
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            money(sum(dec(col("l_quantity")))).as("sum_qty"),
            money(sum(dec(col("l_extendedprice")))).as("sum_base"),
            money(sum(revenue)).as("sum_disc_price"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some(s"""SELECT l_returnflag, l_linestatus,
              |CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))),2) AS DOUBLE) AS sum_qty,
              |CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))),2) AS DOUBLE) AS sum_base,
              |CAST(ROUND(SUM($revenueSql),2) AS DOUBLE) AS sum_disc_price,
              |COUNT(*) AS count_order
              |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin))),

    "q3_top_revenue" -> ((
      (s: SparkSession, d: String) => {
        val c = t(s, d, "customer").where(col("c_mktsegment") === "BUILDING")
        val o = t(s, d, "orders")
          .where(col("o_orderdate").cast(DateType) < lit(java.sql.Date.valueOf("1998-01-01")))
        val l = t(s, d, "lineitem")
        c.join(o, col("c_custkey") === col("o_custkey"))
          .join(l, col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderkey"))
          .agg(money(sum(revenue)).as("revenue"))
          .orderBy(col("revenue").desc, col("o_orderkey"))
          .limit(10)
      },
      Some(s"""SELECT o_orderkey, CAST(ROUND(SUM($revenueSql),2) AS DOUBLE) AS revenue
              |FROM customer JOIN orders ON c_custkey = o_custkey
              |JOIN lineitem ON o_orderkey = l_orderkey
              |WHERE c_mktsegment = 'BUILDING' AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
              |GROUP BY 1 ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin))),

    "q5_nation_revenue" -> ((
      (s: SparkSession, d: String) =>
        t(s, d, "customer")
          .join(t(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
          .join(t(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
          .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"))
          .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(money(sum(revenue)).as("revenue"), count(lit(1)).as("lines"))
          .orderBy(col("r_name"), col("n_name")),
      Some(s"""SELECT r_name, n_name, CAST(ROUND(SUM($revenueSql),2) AS DOUBLE) AS revenue,
              |COUNT(*) AS lines
              |FROM customer JOIN nation ON c_nationkey = n_nationkey
              |JOIN region ON n_regionkey = r_regionkey
              |JOIN orders ON c_custkey = o_custkey
              |JOIN lineitem ON o_orderkey = l_orderkey
              |GROUP BY 1,2 ORDER BY 1,2""".stripMargin))),

    // OLAP rollup: the classic subtotal/grand-total report in ONE pass —
    // Spark expands grouping sets before the partial aggregate, so a
    // 100 TB rollup still map-side combines instead of re-scanning per
    // level. Exact-decimal revenue (the q1/q5 technique), grouping_id
    // disambiguates subtotal rows (same bitmask convention both engines).
    "q_rollup_revenue" -> ((
      (s: SparkSession, d: String) =>
        t(s, d, "lineitem")
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(money(sum(revenue)).as("revenue"), count(lit(1)).as("lines"),
            grouping_id().cast(IntegerType).as("grp"))
          .orderBy(col("grp"), col("l_returnflag"), col("l_linestatus")),
      Some(s"""SELECT l_returnflag, l_linestatus,
              |CAST(ROUND(SUM($revenueSql),2) AS DOUBLE) AS revenue,
              |COUNT(*) AS lines,
              |CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS grp
              |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
              |ORDER BY grp, l_returnflag, l_linestatus""".stripMargin))),

    // OLAP cube: all four grouping sets of (returnflag, linestatus) in
    // ONE pass — like rollup, Spark expands the sets before the partial
    // aggregate so the scan still map-side combines; grouping_id
    // disambiguates the null-as-total rows (same bitmask both engines).
    "q_cube" -> ((
      (s: SparkSession, d: String) =>
        t(s, d, "lineitem")
          .cube(col("l_returnflag"), col("l_linestatus"))
          .agg(money(sum(revenue)).as("revenue"), count(lit(1)).as("lines"),
            grouping_id().cast(IntegerType).as("grp"))
          .orderBy(col("grp"), col("l_returnflag"), col("l_linestatus")),
      Some(s"""SELECT l_returnflag, l_linestatus,
              |CAST(ROUND(SUM($revenueSql),2) AS DOUBLE) AS revenue,
              |COUNT(*) AS lines,
              |CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS grp
              |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
              |ORDER BY grp, l_returnflag, l_linestatus""".stripMargin))),

    // Pivot: one row per user, one column per event type — the
    // wide-report reshape. The value list is EXPLICIT (no extra distinct
    // pass, deterministic column order — the at-scale posture); sums go
    // through exact DECIMAL like every money aggregate.
    "q_pivot" -> ((
      (s: SparkSession, d: String) =>
        t(s, d, "events")
          .groupBy(col("user_id"))
          .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
          .agg(money(sum(dec(col("value")))))
          .orderBy(col("user_id")),
      Some("""SELECT user_id,
             |CAST(ROUND(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END),2) AS DOUBLE) AS click,
             |CAST(ROUND(SUM(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,2)) END),2) AS DOUBLE) AS error,
             |CAST(ROUND(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END),2) AS DOUBLE) AS purchase,
             |CAST(ROUND(SUM(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,2)) END),2) AS DOUBLE) AS signup,
             |CAST(ROUND(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,2)) END),2) AS DOUBLE) AS "view"
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin))),

    // Skew-salted join (operators.Relational.skewJoin): lineitem ⋈ part
    // on partkey with an 8-way salt — semantics must equal the plain
    // equi-join, which is exactly what the oracle checks; the aggregate
    // collapses the salted result so the compare is key-sized.
    "q_skew_join" -> ((
      (s: SparkSession, d: String) => {
        val l = t(s, d, "lineitem")
          .select(col("l_partkey").as("partkey"), revenue.as("rev"))
        val p = t(s, d, "part")
          .where(col("p_size") <= 10)
          .select(col("p_partkey").as("partkey"), col("p_brand"))
        graft.operators.Relational.skewJoin(l, p, Seq("partkey"), salts = 8)
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("lines"), money(sum(col("rev"))).as("revenue"))
          .orderBy(col("p_brand"))
      },
      Some(s"""SELECT p_brand,
              |COUNT(*) AS lines,
              |CAST(ROUND(SUM($revenueSql),2) AS DOUBLE) AS revenue
              |FROM lineitem JOIN part ON l_partkey = p_partkey
              |WHERE p_size <= 10
              |GROUP BY p_brand ORDER BY p_brand""".stripMargin))),

    "q_window_top_orders" -> ((
      (s: SparkSession, d: String) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, d, "orders")
          .withColumn("rn", row_number().over(w))
          .where(col("rn") <= 3)
          .select(col("o_custkey"), col("o_orderkey"), col("rn"))
          .orderBy(col("o_custkey"), col("rn"))
      },
      Some("""SELECT o_custkey, o_orderkey, rn FROM (
             |  SELECT o_custkey, o_orderkey,
             |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin))),

    "q_distinct_count" -> ((
      (s: SparkSession, d: String) =>
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(countDistinct(col("l_suppkey")).as("supps"),
            countDistinct(col("l_partkey")).as("parts"))
          .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS supps,
             |COUNT(DISTINCT l_partkey) AS parts
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin))),

    // Semi-structured extraction: pull the numeric field out of the JSON
    // props column and aggregate it per event type — the schema-on-read
    // path (get_json_object stays codegen'd; no UDF).
    "q_events_json" -> ((
      (s: SparkSession, d: String) => {
        events(s, d)
          .select(col("event_type"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("events"), sum(col("k")).as("k_sum"),
            min(col("k")).as("k_min"), max(col("k")).as("k_max"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS events,
             |  CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
             |  CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_min,
             |  CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin))),

    // SCD type-2 interval derivation: each user's event_type change
    // history collapsed into validity intervals (merge same-value runs,
    // last-wins at equal timestamps, open current version) — one key
    // shuffle, two windows sharing it.
    "q_scd2" -> ((
      (s: SparkSession, d: String) => {
        val ev = events(s, d).select(col("user_id"),
          expr("ts DIV 1000").as("ts_us"), col("event_type"), col("event_id"))
        graft.operators.Relational.scd2(ev, Seq("user_id"), "ts_us",
            "event_type", tiebreakCol = Some("event_id"))
          .orderBy(col("user_id"), col("valid_from"))
      },
      Some("""WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type, event_id
             |  FROM events),
             |pt AS (SELECT user_id, ts_us, event_type,
             |  ROW_NUMBER() OVER (PARTITION BY user_id, ts_us
             |                     ORDER BY event_id DESC) AS rn FROM ev),
             |d AS (SELECT user_id, ts_us, event_type FROM pt WHERE rn = 1),
             |ch AS (SELECT user_id, ts_us, event_type,
             |  LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts_us) AS prev
             |  FROM d),
             |f AS (SELECT user_id, event_type, ts_us AS valid_from,
             |  LEAD(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) AS valid_to
             |  FROM ch WHERE prev IS NULL OR prev <> event_type)
             |SELECT user_id, event_type, valid_from, valid_to
             |FROM f ORDER BY user_id, valid_from""".stripMargin))),

    // Batch click-attribution (the oracled twin of the streaming
    // stream-stream interval join): purchases pair with the same user's
    // views within a 30-minute lookback — one equi-join on user_id,
    // time bound as a filter, lag in floor-seconds (exact integer in
    // both engines).
    "q_attribution" -> ((
      (s: SparkSession, d: String) => {
        val ev = events(s, d)
          .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
        graft.operators.EventOps.attribution(ev,
            impressionType = "view", conversionType = "purchase",
            horizonSec = 1800L)
          .orderBy(col("user_id"), col("imp_ts"), col("conv_ts"))
      },
      Some("""WITH imp AS (SELECT user_id, ts AS imp_ts, value AS imp_value
             |  FROM events WHERE event_type = 'view'),
             |conv AS (SELECT user_id, ts AS conv_ts, value AS conv_value
             |  FROM events WHERE event_type = 'purchase')
             |SELECT i.user_id, i.imp_ts, c.conv_ts,
             |  epoch_us(c.conv_ts) // 1000000 - epoch_us(i.imp_ts) // 1000000
             |    AS lag_seconds,
             |  i.imp_value, c.conv_value
             |FROM imp i JOIN conv c ON i.user_id = c.user_id
             |WHERE c.conv_ts >= i.imp_ts
             |  AND epoch_us(c.conv_ts) // 1000000 - epoch_us(i.imp_ts) // 1000000
             |      <= 1800
             |ORDER BY i.user_id, i.imp_ts, c.conv_ts""".stripMargin))),

    // HyperLogLog register table (m=256) over the order custkeys — the
    // mergeable cardinality sketch, exact integer contract: bucket =
    // first md5 byte, rho = leading-zero-bits of the next 64 + 1,
    // replayed digit for digit from the hex string. The float estimate
    // is spec-tested; the registers ARE the oracled artifact.
    "q_hll_registers" -> ((
      (s: SparkSession, d: String) =>
        Sketches.hllRegisters(t(s, d, "orders"), "o_custkey")
          .orderBy(col("bucket")),
      Some(hllRegistersOracleSql("orders", "o_custkey")))),

    // Count-min sketch (depth 4 × width 256) of lineitem partkey
    // frequencies — the mergeable heavy-hitter counter matrix.
    "q_cms_sketch" -> ((
      (s: SparkSession, d: String) =>
        Sketches.cmsSketch(t(s, d, "lineitem"), "l_partkey")
          .orderBy(col("hrow"), col("hcol")),
      Some(cmsSketchOracleSql("lineitem", "l_partkey", depth = 4, width = 256)))),

    // CMS point-query read path: min-over-rows estimate for 30 probe
    // keys — the classic upper-bound estimate, exact integers end to end.
    "q_cms_estimate" -> ((
      (s: SparkSession, d: String) =>
        Sketches.cmsEstimate(
            Sketches.cmsSketch(t(s, d, "lineitem"), "l_partkey"),
            t(s, d, "part").where(col("p_partkey") < 30), "p_partkey")
          .orderBy(col("key")),
      Some(cmsEstimateOracleSql(depth = 4, width = 256)))),

    // Sketch-driven heavy hitters with exact verification: candidate
    // keys whose CMS estimate clears the threshold (one vertex-sized
    // probe against the broadcastable grid), then ONE targeted exact
    // count join over just the candidates — the two-phase top-k pattern
    // that avoids a full exact groupBy at 100 TB when only the head of
    // the distribution matters. CMS never undercounts, so no true heavy
    // hitter can be missed; the exact join kills the false positives.
    "q_cms_topk" -> ((
      (s: SparkSession, d: String) => {
        val ev = t(s, d, "events")
        val sketch = Sketches.cmsSketch(ev, "user_id")
        // scale-relative threshold: 115% of the mean per-key count, in
        // exact integer floor arithmetic (identical in any engine);
        // null keys are outside the sketch domain, so they stay out of
        // BOTH threshold counts (count(1) would otherwise include rows
        // count(DISTINCT) ignores — the oracle filters them too)
        val thr = ev.where(col("user_id").isNotNull).agg(
          expr("115 * count(1) DIV (100 * count(DISTINCT user_id))").as("thr"))
        val cand = Sketches.cmsEstimate(sketch,
          ev.select(col("user_id")).distinct().select(col("user_id").as("key")),
          "key")
        val exact = ev.groupBy(col("user_id").as("key"))
          .agg(count(lit(1)).as("exact"))
        cand.crossJoin(thr) // 1-row guard join
          .where(col("est") >= col("thr"))
          .join(exact, Seq("key"))
          .where(col("exact") >= col("thr"))
          .select(col("key"), col("est"), col("exact"))
          .orderBy(col("key"))
      },
      Some(cmsTopkOracleSql(depth = 4, width = 256)))),

    // Bloom filter build + membership probe: the mergeable set sketch a
    // 100 TB pipeline broadcasts as a join prefilter. Bits pack 32 per
    // BIGINT word (no sign-bit shifts in any engine), k=5 md5-derived
    // hashes; probing the first 200 customers against the order-placing
    // set yields definite-absent zeros plus the sketch's false-positive
    // ones — replayed bit for bit in DuckDB.
    "q_bloom_probe" -> ((
      (s: SparkSession, d: String) =>
        Sketches.bloomMightContain(
            Sketches.bloomFilter(t(s, d, "orders"), "o_custkey"),
            t(s, d, "customer").where(col("c_custkey") < 200)
              .select(col("c_custkey").as("key")),
            "key")
          .orderBy(col("key")),
      Some(bloomProbeOracleSql(bits = 4096, k = 5)))),

    // Weighted sampling WITHOUT replacement via priority sampling
    // (Duffield-Lund-Thorup): q = w/u with the deterministic md5
    // uniform, top-10 per language by n_chars weight — the whole chain
    // is casts and IEEE divisions (both correctly rounded everywhere),
    // so ranks replay bit-identically with no libm fine print.
    "samp_weighted" -> ((
      (s: SparkSession, d: String) =>
        Sampling.prioritySample(
            t(s, d, "documents").select(col("lang"), col("doc_id"), col("n_chars")),
            keyCol = "doc_id", weightCol = "n_chars", k = 10,
            groupCols = Seq("lang"))
          .select(col("lang"), col("doc_id"), col("n_chars"),
            round(col("priority"), 4).as("priority"), col("rank"))
          .orderBy(col("lang"), col("rank")),
      Some(s"""WITH h AS (SELECT lang, doc_id, n_chars,
             |    ${kmvHashSql("doc_id")} AS h
             |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
             |p AS (SELECT lang, doc_id, n_chars,
             |  CAST(n_chars AS DOUBLE) /
             |    (CAST(h + 1 AS DOUBLE) / 72057594037927936.0) AS priority
             |  FROM h),
             |r AS (SELECT lang, doc_id, n_chars, priority,
             |  CAST(ROW_NUMBER() OVER (
             |    PARTITION BY lang ORDER BY priority DESC, doc_id) AS INTEGER) AS rank
             |  FROM p)
             |SELECT lang, doc_id, n_chars,
             |  CAST(ROUND(priority, 4) AS DOUBLE) AS priority, rank
             |FROM r WHERE rank <= 10
             |ORDER BY lang, rank""".stripMargin))),

    // KMV (bottom-k) distinct sketch per order priority: the k smallest
    // distinct 56-bit md5 hashes of the custkey — the third mergeable
    // cardinality tool (set-operation-capable, exact below k), an exact
    // integer contract replayed digit for digit.
    "q_kmv_sketch" -> ((
      (s: SparkSession, d: String) =>
        Sketches.kmvSketch(t(s, d, "orders"), "o_custkey", k = 16,
            groupCols = Seq("o_orderpriority"))
          .orderBy(col("o_orderpriority"), col("rank")),
      Some(kmvSketchOracleSql(k = 16)))),

    // KMV read path: per-priority distinct-custkey estimate from the
    // bottom-32 sketch — (k−1)·D/h(k) in all-BIGINT floor arithmetic,
    // exact-count mode for groups below k.
    "q_kmv_estimate" -> ((
      (s: SparkSession, d: String) =>
        Sketches.kmvEstimate(
            Sketches.kmvSketch(t(s, d, "orders"), "o_custkey", k = 32,
              groupCols = Seq("o_orderpriority")),
            k = 32, groupCols = Seq("o_orderpriority"))
          .orderBy(col("o_orderpriority")),
      Some(kmvEstimateOracleSql(k = 32)))),

    // Z-order (Morton) layout codes: interleave two key dimensions into
    // one sort key so min/max file statistics prune 2-D range predicates
    // — the Delta/Iceberg Z-ORDER clustering primitive. The per-code
    // profile (row count + per-dimension min/max) makes the locality
    // visible; pure integer bit math, replayed term for term in DuckDB.
    "q_zorder_layout" -> ((
      (s: SparkSession, d: String) => {
        val keyed = t(s, d, "lineitem").select(
          pmod(col("l_orderkey"), lit(1024)).as("x"),
          pmod(col("l_partkey"), lit(1024)).as("y"))
        keyed.select(col("x"), col("y"),
            graft.operators.Layout.mortonCode(col("x"), col("y"), bits = 10).as("z"))
          .groupBy(col("z"))
          .agg(count(lit(1)).as("rows"),
            min(col("x")).as("x_min"), max(col("x")).as("x_max"),
            min(col("y")).as("y_min"), max(col("y")).as("y_max"))
          .orderBy(col("z")).limit(500)
      },
      Some("""WITH keyed AS (
             |  SELECT l_orderkey % 1024 AS x, l_partkey % 1024 AS y FROM lineitem),
             |coded AS (SELECT x, y, CAST(list_sum(list_transform(range(0, 10),
             |    i -> ((((x >> i) & 1) << (2*i)) | (((y >> i) & 1) << (2*i+1))))) AS BIGINT) AS z
             |  FROM keyed)
             |SELECT z, COUNT(*) AS rows,
             |  MIN(x) AS x_min, MAX(x) AS x_max, MIN(y) AS y_min, MAX(y) AS y_max
             |FROM coded GROUP BY z ORDER BY z LIMIT 500""".stripMargin))),

    // Ordered funnel: users completing view < click < purchase at
    // strictly increasing timestamps, earliest-completion semantics.
    // ts stays the raw int64 nanos on both sides — exact comparisons.
    "q_funnel" -> ((
      (s: SparkSession, d: String) => {
        graft.operators.EventOps.funnel(events(s, d),
            "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
          .orderBy(col("step_no"))
      },
      Some("""WITH r1 AS (SELECT user_id AS u, MIN(ts) AS tk FROM events
             |  WHERE event_type = 'view' GROUP BY 1),
             |r2 AS (SELECT e.user_id AS u, MIN(e.ts) AS tk FROM events e
             |  JOIN r1 ON e.user_id = r1.u
             |  WHERE e.event_type = 'click' AND e.ts > r1.tk GROUP BY 1),
             |r3 AS (SELECT e.user_id AS u, MIN(e.ts) AS tk FROM events e
             |  JOIN r2 ON e.user_id = r2.u
             |  WHERE e.event_type = 'purchase' AND e.ts > r2.tk GROUP BY 1)
             |SELECT * FROM (
             |  SELECT CAST(1 AS INTEGER) AS step_no, 'view' AS step,
             |    (SELECT COUNT(*) FROM r1) AS users
             |  UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM r2)
             |  UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM r3))
             |ORDER BY step_no""".stripMargin))),

    // Weekly cohort retention: cohort = Monday-truncated week of each
    // user's first event; cells count the cohort's users active at each
    // week offset. Mondays differ by exact multiples of 7 days, so the
    // offset division is exact in both engines.
    "q_retention" -> ((
      (s: SparkSession, d: String) => {
        graft.operators.EventOps.weeklyRetention(
            events(s, d)
              .withColumn("ts", timestamp_micros(expr("ts DIV 1000"))),
            "user_id", "ts")
          .orderBy(col("cohort_week"), col("week_offset"))
      },
      Some("""WITH ev AS (SELECT user_id AS u,
             |    CAST(date_trunc('week', ts) AS DATE) AS w FROM events),
             |cohort AS (SELECT u, MIN(w) AS cw FROM ev GROUP BY 1)
             |SELECT cw AS cohort_week,
             |  CAST(date_diff('day', cw, w) / 7 AS INTEGER) AS week_offset,
             |  COUNT(*) AS users
             |FROM (SELECT DISTINCT u, w FROM ev) d JOIN cohort USING (u)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))),

    "q_sessionize" -> ((
      (s: SparkSession, d: String) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        events(s, d)
          .withColumn("prev", lag(col("ts"), 1).over(w))
          .withColumn("new_session",
            when(col("prev").isNull || col("ts") - col("prev") > 30L * 60 * 1000000000L, 1)
              .otherwise(0))
          .groupBy(col("user_id"))
          .agg(sum(col("new_session")).as("sessions"), count(lit(1)).as("events"))
          .orderBy(col("user_id"))
      },
      // Compare raw int64 nanosecond deltas in BOTH engines (precision
      // hardening). The actual round-1/2 hash mismatch was a type artifact:
      // DuckDB widens a bare integer SUM to HUGEINT, which the driver's
      // hasher encodes differently from Spark's BIGINT even when every
      // value matches — hence the explicit CAST back to BIGINT.
      Some("""SELECT user_id,
             |CAST(SUM(CASE WHEN prev IS NULL
             |         OR epoch_ns(ts) - epoch_ns(prev) > 1800000000000 THEN 1 ELSE 0 END) AS BIGINT) AS sessions,
             |COUNT(*) AS events
             |FROM (SELECT user_id, event_id, ts,
             |        LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
             |      FROM events)
             |GROUP BY 1 ORDER BY 1""".stripMargin))),

    "q_events_hourly" -> ((
      (s: SparkSession, d: String) => {
        // events.ts is parquet TIMESTAMP(NANOS) which Spark's vectorized
        // reader rejects; read the raw int64 nanos and convert. The
        // session timezone is UTC, so the naive wall time round-trips.
        events(s, d)
          .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
          .groupBy(date_trunc("hour", col("ts")).cast(StringType).as("hour"),
            col("event_type"))
          .agg(count(lit(1)).as("events"),
            money(sum(dec(col("value")))).as("sum_value"))
          .orderBy(col("hour"), col("event_type"))
      },
      Some("""SELECT CAST(DATE_TRUNC('hour', ts) AS VARCHAR) AS hour, event_type,
             |COUNT(*) AS events,
             |CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))),2) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin))),

    // Bucketed range join: each order priced into overlapping 2000-wide
    // price bands (each band spans [i*2000, i*2000+2999], so most points
    // match two bands). Buckets turn the range predicate into an
    // equi-join + filter — one hash shuffle, no nested-loop product; the
    // oracle runs the naive range join directly.
    "q_range_join" -> ((
      (s: SparkSession, d: String) => {
        val pts = t(s, d, "orders").select(col("o_orderkey"), col("o_totalprice"))
        val iv = s.range(0, 200).select(col("id").as("band"),
          (col("id") * 2000).cast(DoubleType).as("lo"),
          (col("id") * 2000 + 2999).cast(DoubleType).as("hi"))
        graft.operators.Relational.rangeJoin(pts, iv, Seq.empty,
            "o_totalprice", "lo", "hi", bucketWidth = 1000)
          .select(col("o_orderkey"), col("o_totalprice"), col("r_band"))
          .orderBy(col("o_orderkey"), col("r_band"))
      },
      Some("""WITH iv AS (
             |  SELECT CAST(i AS BIGINT) AS band, CAST(i*2000 AS DOUBLE) AS lo,
             |    CAST(i*2000+2999 AS DOUBLE) AS hi
             |  FROM range(0, 200) t(i))
             |SELECT o_orderkey, o_totalprice, band AS r_band
             |FROM orders JOIN iv ON o_totalprice >= lo AND o_totalprice <= hi
             |ORDER BY o_orderkey, r_band""".stripMargin))),

    // Backward as-of join: each click's latest view at-or-before it per
    // user (union + running-last window — one shuffle on user_id, no
    // range cross join). Spark matches on raw int64 NANOS; the oracle
    // replays with a correlated LATERAL LIMIT 1, ties broken (vts DESC,
    // vid DESC) exactly like the operator's payload-struct ordering with
    // vid as the first right column. The reported lag truncates each
    // timestamp to MICROS first — DuckDB reads the nanos parquet column
    // as microsecond TIMESTAMP, so nano-precision lags can't replay.
    "q_events_asof" -> ((
      (s: SparkSession, d: String) => {
        val ev = events(s, d)
        val clicks = ev.where(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"))
        val views = ev.where(col("event_type") === "view")
          .select(col("event_id").as("vid"), col("user_id"), col("ts").as("vts"))
        graft.operators.Relational.asofJoin(
          clicks, views, Seq("user_id"), "ts", "vts", rightPrefix = "v_")
          .select(col("event_id"), col("user_id"), col("v_vid"),
            (expr("ts DIV 1000") - expr("v_vts DIV 1000")).as("lag_us"))
          .orderBy(col("event_id"))
      },
      Some("""WITH c AS (SELECT event_id, user_id, epoch_us(ts) AS tsu
             |          FROM events WHERE event_type = 'click'),
             |v AS (SELECT event_id AS vid, user_id, epoch_us(ts) AS vtsu
             |      FROM events WHERE event_type = 'view')
             |SELECT c.event_id, c.user_id, q.vid AS v_vid, c.tsu - q.vtsu AS lag_us
             |FROM c LEFT JOIN LATERAL (
             |  SELECT vid, vtsu FROM v
             |  WHERE v.user_id = c.user_id AND v.vtsu <= c.tsu
             |  ORDER BY vtsu DESC, vid DESC LIMIT 1) q ON TRUE
             |ORDER BY c.event_id""".stripMargin))),

    // EXACT discrete percentiles per group (p50/p95/p99 of order totals
    // per order-priority): one window rank + one filter — at 100 TB
    // exact percentiles are one sort-shuffle, and percentile_disc
    // semantics (smallest value with cume ≥ p) replay exactly in any
    // engine, where approximate sketches would not hash-match.
    "q_percentiles" -> ((
      (s: SparkSession, d: String) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
        val n = Window.partitionBy(col("o_orderpriority"))
        val ranked = t(s, d, "orders")
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(n))
        def pick(p: Double, name: String) =
          max(when(col("rn") === ceil(lit(p) * col("n")).cast(LongType),
            col("o_totalprice"))).as(name)
        ranked.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("orders"),
            pick(0.5, "p50"), pick(0.95, "p95"), pick(0.99, "p99"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""WITH ranked AS (SELECT o_orderpriority, o_totalprice,
             |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
             |      ORDER BY o_totalprice, o_orderkey) AS rn,
             |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
             |  FROM orders)
             |SELECT o_orderpriority, COUNT(*) AS orders,
             |  MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT) THEN o_totalprice END) AS p50,
             |  MAX(CASE WHEN rn = CAST(CEIL(0.95 * n) AS BIGINT) THEN o_totalprice END) AS p95,
             |  MAX(CASE WHEN rn = CAST(CEIL(0.99 * n) AS BIGINT) THEN o_totalprice END) AS p99
             |FROM ranked GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))),

    // Per-type z-score outliers — the events-warehouse anomaly sweep.
    // Moments are EXACT decimal sums (count, Σv, Σv² at DECIMAL(18,6)
    // per value), z is then one fixed-order double expression over them,
    // so the flagged set replays bit-identically; the per-type moment
    // table is broadcast back (no second corpus shuffle).
    "q_zscore_outliers" -> ((
      (s: SparkSession, d: String) => {
        val d6 = col("value").cast(DecimalType(18, 6))
        val ev = t(s, d, "events")
        val stats = ev.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(d6).as("sv"), sum(d6 * d6).as("svv"))
        val mean = col("sv").cast(DoubleType) / col("n").cast(DoubleType)
        val std = sqrt(col("svv").cast(DoubleType) / col("n").cast(DoubleType) -
          mean * mean)
        val z = (d6.cast(DoubleType) - mean) / std
        ev.join(broadcast(stats), Seq("event_type"))
          .where(std > 0 && abs(z) >= 2.0)
          .select(col("event_id"), col("event_type"), round(z, 4).as("z"))
          .orderBy(col("event_id"))
      },
      Some("""WITH st AS (SELECT event_type, COUNT(*) AS n,
             |    SUM(CAST(value AS DECIMAL(18,6))) AS sv,
             |    SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS svv
             |  FROM events GROUP BY event_type)
             |SELECT event_id, e.event_type,
             |  ROUND((CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) -
             |    CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) /
             |    SQRT(CAST(svv AS DOUBLE) / CAST(n AS DOUBLE) -
             |      (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) *
             |      (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))), 4) AS z
             |FROM events e JOIN st ON e.event_type = st.event_type
             |WHERE SQRT(CAST(svv AS DOUBLE) / CAST(n AS DOUBLE) -
             |      (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) *
             |      (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))) > 0
             |  AND ABS((CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) -
             |    CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) /
             |    SQRT(CAST(svv AS DOUBLE) / CAST(n AS DOUBLE) -
             |      (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) *
             |      (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)))) >= 2.0
             |ORDER BY event_id""".stripMargin))),

    // Forward as-of: each click matched to the EARLIEST view at-or-after
    // it (pandas merge_asof direction='forward') — same union +
    // running-window shape as q_events_asof, window ordered descending.
    "q_events_asof_fwd" -> ((
      (s: SparkSession, d: String) => {
        val ev = events(s, d)
        val clicks = ev.where(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"))
        val views = ev.where(col("event_type") === "view")
          .select(col("event_id").as("vid"), col("user_id"), col("ts").as("vts"))
        graft.operators.Relational.asofJoin(
          clicks, views, Seq("user_id"), "ts", "vts", rightPrefix = "v_",
          direction = "forward")
          .select(col("event_id"), col("user_id"), col("v_vid"),
            (expr("v_vts DIV 1000") - expr("ts DIV 1000")).as("lead_us"))
          .orderBy(col("event_id"))
      },
      Some("""WITH c AS (SELECT event_id, user_id, epoch_us(ts) AS tsu
             |          FROM events WHERE event_type = 'click'),
             |v AS (SELECT event_id AS vid, user_id, epoch_us(ts) AS vtsu
             |      FROM events WHERE event_type = 'view')
             |SELECT c.event_id, c.user_id, q.vid AS v_vid, q.vtsu - c.tsu AS lead_us
             |FROM c LEFT JOIN LATERAL (
             |  SELECT vid, vtsu FROM v
             |  WHERE v.user_id = c.user_id AND v.vtsu >= c.tsu
             |  ORDER BY vtsu ASC, vid DESC LIMIT 1) q ON TRUE
             |ORDER BY c.event_id""".stripMargin))))

  // ======================================================================
  // Cypher operator surface over the TPC-H bridge graph (SURVEY.md §2.1)
  // ======================================================================

  private def cy(query: String): Q =
    (s: SparkSession, d: String) => Cypher.run(TpchBridge.graph(s, d), query)
  private def cyU(query: String): Q =
    (s: SparkSession, d: String) => Cypher.run(TpchBridge.undirectedGraph(s, d), query)

  private def bridgeSql(body: String): String =
    s"WITH ${TpchBridge.sql.nodes},\n${TpchBridge.sql.edges}\n$body"

  val cypherQueries: Map[String, (Q, Option[String])] = Map(
    "cy_all_node_scan" -> ((
      cy("MATCH (n) RETURN n.id AS id, n.label AS label ORDER BY id"),
      Some(bridgeSql("SELECT id, label FROM nodes ORDER BY id")))),

    "cy_label_scan" -> ((
      cy("MATCH (n:Customer) RETURN n.id AS id, n.name AS name ORDER BY id"),
      Some("SELECT 'c' || c_custkey AS id, c_name AS name FROM customer ORDER BY id"))),

    "cy_node_by_id" -> ((
      cy("MATCH (n) WHERE id(n) = 'c42' RETURN n.name AS name, n.mktsegment AS seg"),
      Some("SELECT c_name AS name, c_mktsegment AS seg FROM customer WHERE c_custkey = 42"))),

    "cy_filter_numeric" -> ((
      cy("MATCH (c:Customer) WHERE c.acctbal > 5000 RETURN c.id AS id ORDER BY id"),
      Some("SELECT 'c' || c_custkey AS id FROM customer WHERE c_acctbal > 5000 ORDER BY id"))),

    "cy_filter_boolean" -> ((
      cy("MATCH (c:Customer) WHERE c.acctbal > 1000 AND " +
        "(c.mktsegment = 'BUILDING' OR c.mktsegment = 'MACHINERY') AND NOT c.nationkey = 3 " +
        "RETURN c.id AS id ORDER BY id"),
      Some("""SELECT 'c' || c_custkey AS id FROM customer
             |WHERE c_acctbal > 1000 AND c_mktsegment IN ('BUILDING','MACHINERY')
             |AND c_nationkey <> 3 ORDER BY id""".stripMargin))),

    "cy_expand" -> ((
      cy("MATCH (c:Customer)-[:PLACED]->(o:Order) RETURN c.id AS cid, o.id AS oid ORDER BY cid, oid"),
      Some("SELECT 'c' || o_custkey AS cid, 'o' || o_orderkey AS oid FROM orders ORDER BY cid, oid"))),

    "cy_expand_2hop" -> ((
      cy("MATCH (c:Customer)-[:PLACED]->(o:Order)-[:CONTAINS]->(p:Part) " +
        "RETURN c.id AS cid, p.id AS pid ORDER BY cid, pid"),
      Some("""SELECT 'c' || o_custkey AS cid, 'p' || l_partkey AS pid
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |ORDER BY cid, pid""".stripMargin))),

    // customers×suppliers per nation is OUTPUT-QUADRATIC (100× rows for
    // 10× data). The planner's anchored top-k pushdown
    // (Planner.installTopKPruning) prunes the customer SCAN to the 500
    // best matched anchors before the expand, so the join intermediate —
    // not just the returned rows — is bounded: sf1 164 s → 5.4 s, sf10
    // 65.6 s (r15; was the one standing scale-killer of the r14 audit).
    "cy_var_cycle" -> ((
      cy("MATCH (c:Customer)-[:FROM]->(n:Nation)<-[:FROM]-(s:Supplier) " +
        "RETURN c.id AS cid, n.id AS nid, s.id AS sid ORDER BY cid, nid, sid LIMIT 500"),
      Some("""SELECT 'c' || c_custkey AS cid, 'n' || c_nationkey AS nid, 's' || s_suppkey AS sid
             |FROM customer JOIN supplier ON c_nationkey = s_nationkey
             |ORDER BY cid, nid, sid LIMIT 500""".stripMargin))),

    // WITH-chained modifiers + anchor-at-END: the sort leads with the
    // SUPPLIER (the path's last node), so the planner reverses the path
    // (arrows flipped losslessly — no DirBoth hop) and prunes the
    // supplier scan to the 200 best matched anchors before the expand.
    "cy_with_topk" -> ((
      cy("MATCH (c:Customer)-[:FROM]->(n:Nation)<-[:FROM]-(s:Supplier) " +
        "WITH s.id AS sid, c.id AS cid, n.id AS nid ORDER BY sid, cid LIMIT 200 " +
        "RETURN sid, cid, nid ORDER BY sid, cid"),
      Some("""SELECT 's' || s_suppkey AS sid, 'c' || c_custkey AS cid,
             |  'n' || c_nationkey AS nid
             |FROM customer JOIN supplier ON c_nationkey = s_nationkey
             |ORDER BY sid, cid LIMIT 200""".stripMargin))),

    // r16: anchored top-k pushdown THROUGH aggregation — the sort key is
    // a GROUPING key (c.id), so the LIMIT counts groups and the k-th
    // distinct matched anchor key bounds the scan; every row of a
    // surviving group passes the prune, so count(s) stays exact. The
    // unpruned plan materializes customers×suppliers-per-nation first.
    "cy_topk_group_agg" -> ((
      cy("MATCH (c:Customer)-[:FROM]->(n:Nation)<-[:FROM]-(s:Supplier) " +
        "RETURN c.id AS cid, count(s) AS ns ORDER BY cid LIMIT 150"),
      Some("""SELECT 'c' || c_custkey AS cid, count(*) AS ns
             |FROM customer JOIN supplier ON c_nationkey = s_nationkey
             |GROUP BY cid ORDER BY cid LIMIT 150""".stripMargin))),

    "cy_rel_type_scan" -> ((
      cy("MATCH (s:Supplier)-[r:SUPPLIES]->(p:Part) RETURN s.id AS sid, p.id AS pid ORDER BY sid, pid"),
      Some("""SELECT DISTINCT 's' || l_suppkey AS sid, 'p' || l_partkey AS pid
             |FROM lineitem ORDER BY sid, pid""".stripMargin))),

    "cy_undirected_scan" -> ((
      cyU("MATCH (a)-[r:SAME_NATION]-(b) RETURN a.id AS aid, b.id AS bid ORDER BY aid, bid"),
      Some(s"""WITH ${TpchBridge.sql.sameNationEdges}
              |SELECT src AS aid, dst AS bid FROM sn_edges
              |UNION ALL SELECT dst, src FROM sn_edges
              |ORDER BY aid, bid""".stripMargin))),

    "cy_distinct" -> ((
      cy("MATCH (c:Customer)-[:PLACED]->(o:Order) RETURN DISTINCT c.mktsegment AS seg ORDER BY seg"),
      Some("""SELECT DISTINCT c_mktsegment AS seg FROM customer
             |JOIN orders ON c_custkey = o_custkey ORDER BY seg""".stripMargin))),

    "cy_orderby_limit" -> ((
      cy("MATCH (c:Customer) RETURN c.id AS id, toFloat(c.acctbal) AS acctbal " +
        "ORDER BY acctbal DESC, id LIMIT 10"),
      Some("""SELECT 'c' || c_custkey AS id, c_acctbal AS acctbal FROM customer
             |ORDER BY acctbal DESC, id LIMIT 10""".stripMargin))),

    "cy_skip_limit" -> ((
      cy("MATCH (n:Nation) RETURN n.id AS id ORDER BY id SKIP 5 LIMIT 5"),
      Some("SELECT 'n' || n_nationkey AS id FROM nation ORDER BY id LIMIT 5 OFFSET 5"))),

    "cy_avg_agg" -> ((
      cy("MATCH (c:Customer) RETURN avg(c.nationkey) AS avg_nk, count(c) AS cnt, " +
        "sum(c.nationkey) AS sum_nk, min(c.name) AS min_name, max(c.name) AS max_name"),
      Some("""SELECT AVG(CAST(c_nationkey AS DOUBLE)) AS avg_nk, COUNT(*) AS cnt,
             |SUM(CAST(c_nationkey AS DOUBLE)) AS sum_nk,
             |MIN(c_name) AS min_name, MAX(c_name) AS max_name FROM customer""".stripMargin))),

    "cy_group_agg" -> ((
      cy("MATCH (c:Customer)-[:FROM]->(n:Nation) RETURN n.name AS nation, count(c) AS cnt " +
        "ORDER BY nation"),
      Some("""SELECT n_name AS nation, COUNT(*) AS cnt FROM customer
             |JOIN nation ON c_nationkey = n_nationkey GROUP BY 1 ORDER BY 1""".stripMargin))),

    "cy_optional_match" -> ((
      cy("MATCH (p:Part) OPTIONAL MATCH (s:Supplier)-[r:SUPPLIES]->(p) " +
        "RETURN p.id AS pid, s.id AS sid ORDER BY pid, sid"),
      Some("""SELECT 'p' || p_partkey AS pid, 's' || sp.sid AS sid
             |FROM part LEFT JOIN (SELECT DISTINCT l_suppkey AS sid, l_partkey FROM lineitem) sp
             |ON p_partkey = sp.l_partkey
             |ORDER BY pid, sid""".stripMargin))),

    "cy_unwind" -> ((
      cy("UNWIND [1, 2, 3] AS x RETURN x * 10 AS y ORDER BY y"),
      Some("SELECT CAST(x * 10 AS DOUBLE) AS y FROM (VALUES (1), (2), (3)) AS t(x) ORDER BY y"))),

    "cy_with_having" -> ((
      cy("MATCH (c:Customer)-[:FROM]->(n:Nation) " +
        "WITH n.name AS nation, count(c) AS cnt WHERE cnt > 50 " +
        "RETURN nation, cnt ORDER BY nation"),
      Some("""SELECT n_name AS nation, COUNT(*) AS cnt FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY 1 HAVING COUNT(*) > 50 ORDER BY 1""".stripMargin))),

    "cy_cartesian" -> ((
      cy("MATCH (a:Nation), (b:Nation) RETURN a.id AS aid, b.id AS bid ORDER BY aid, bid"),
      Some("""SELECT 'n' || a.n_nationkey AS aid, 'n' || b.n_nationkey AS bid
             |FROM nation a CROSS JOIN nation b ORDER BY aid, bid""".stripMargin))),

    "cy_rel_prop_filter" -> ((
      cy("MATCH (o:Order)-[r:CONTAINS]->(p:Part) WHERE r.quantity > 45 " +
        "RETURN o.id AS oid, p.id AS pid, toFloat(r.quantity) AS qty ORDER BY oid, pid, qty"),
      Some("""SELECT 'o' || l_orderkey AS oid, 'p' || l_partkey AS pid, l_quantity AS qty
             |FROM lineitem WHERE l_quantity > 45 ORDER BY oid, pid, qty""".stripMargin))),

    "cy_string_predicates" -> ((
      cy("MATCH (c:Customer) WHERE c.name STARTS WITH 'Customer#00000' " +
        "AND c.name CONTAINS '1' AND c.mktsegment IN ['BUILDING', 'AUTOMOBILE'] " +
        "RETURN count(*) AS cnt"),
      Some("""SELECT COUNT(*) AS cnt FROM customer
             |WHERE c_name LIKE 'Customer#00000%' AND c_name LIKE '%1%'
             |AND c_mktsegment IN ('BUILDING','AUTOMOBILE')""".stripMargin))),

    // CALL/YIELD (parity-plus: reference parses CALL, planner TODO):
    // procedures bridge the reference's non-Cypher frontend commands into
    // the query language. db.labels() is the catalog scan…
    "cy_call_labels" -> ((
      cy("CALL db.labels() YIELD label RETURN label ORDER BY label"),
      Some(bridgeSql("SELECT DISTINCT label FROM nodes ORDER BY label")))),

    // …and graft.degree is the reference's `odd` command callable with
    // YIELD renaming, composing with ORDER BY like any other clause.
    "cy_call_degree" -> ((
      cy("CALL graft.degree('out') YIELD id, degree AS deg RETURN id, deg ORDER BY id"),
      Some(bridgeSql(
        """SELECT n.id, COUNT(e.src) AS deg FROM nodes n
          |LEFT JOIN edges e ON n.id = e.src GROUP BY n.id ORDER BY n.id""".stripMargin)))),

    // CALL surface over the round-5/6 algorithms: bounded k-core through
    // Cypher, replaying the same chained-CTE oracle on the BRIDGE edges
    // (string ids — exercises canonicalUndirected's string collation).
    "cy_call_kcore" -> ((
      cy("CALL graft.kCore(2, 2) YIELD id, degree RETURN id, degree ORDER BY id"),
      Some(kcoreOracleSql(2, 2,
        withClause = s"${TpchBridge.sql.nodes},\n${TpchBridge.sql.edges}",
        rel = "edges", orderExpr = "id")))),

    // The reference's batch-partition verb through the CALL surface:
    // balanced min-cut assignment of the 50k-vertex hash graph (string
    // ids — md5 init/parity on the raw id text; vertex count under the
    // broadcast gate, so every BLP round scans the edge list without
    // exchanging it). Oracle replays the 3 rounds on the hg CTE.
    "cy_call_partition" -> ((
      (s: SparkSession, d: String) => {
        val he = TpchBridge.hashGraphEdges(s, d)
        val nodes = he.select(col("src").as("id"))
          .unionByName(he.select(col("dst").as("id"))).distinct()
          .select(col("id"), lit("Hash").as("label"))
        val g = graft.model.PropertyGraph(nodes,
          graft.model.PropertyGraph.withEid(he.select(col("src"), col("dst"),
            lit("LINKS").as("type"), map().as("properties"))),
          isDirected = true)
        Cypher.run(g, "CALL graft.partition(4, 3) YIELD id, part " +
          "RETURN id, part ORDER BY id")
      },
      Some(blpOracleSql(rounds = 3, parts = 4, slackPct = 10,
        graphCtes = blpGraphHash)))),

    // FastRP through the CALL surface on the same hash-graph fixture —
    // the embed verb next to graft.partition/graft.knn, yielding the
    // exact-integer iterate columns.
    "cy_call_fastrp" -> ((
      (s: SparkSession, d: String) => {
        val he = TpchBridge.hashGraphEdges(s, d)
        val nodes = he.select(col("src").as("id"))
          .unionByName(he.select(col("dst").as("id"))).distinct()
          .select(col("id"), lit("Hash").as("label"))
        val g = graft.model.PropertyGraph(nodes,
          graft.model.PropertyGraph.withEid(he.select(col("src"), col("dst"),
            lit("LINKS").as("type"), map().as("properties"))),
          isDirected = true)
        Cypher.run(g, "CALL graft.fastrp(4, 2) " +
          "YIELD id, r1_0, r1_1, r1_2, r1_3, r2_0, r2_1, r2_2, r2_3 " +
          "RETURN id, r1_0, r1_1, r1_2, r1_3, r2_0, r2_1, r2_2, r2_3 ORDER BY id")
      },
      Some(fastRpOracleSql(dims = 4, iterations = 2)))),

    // Whole-graph summary statistics through the CALL surface:
    // reciprocity of the directed bridge edges (structurally 0 — the
    // typed layers never reverse, which the oracle computes rather than
    // assumes) + degree assortativity of the undirected collapse.
    "cy_call_graphstats" -> ((
      cy("CALL graft.graphstats() YIELD total, reciprocated, reciprocity, assortativity " +
        "RETURN total, reciprocated, reciprocity, assortativity"),
      Some(bridgeSql(
        """, e AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
          |tot AS (SELECT COUNT(*) AS total, COUNT(r.src) AS reciprocated,
          |    COALESCE(ROUND(CAST(COUNT(r.src) AS DOUBLE) /
          |      CAST(COUNT(*) AS DOUBLE), 6), 0.0) AS reciprocity
          |  FROM e LEFT JOIN e r ON r.src = e.dst AND r.dst = e.src),
          |cn AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS s, GREATEST(src, dst) AS d
          |  FROM edges WHERE src <> dst),
          |nb AS MATERIALIZED (SELECT s AS u, d AS v FROM cn UNION ALL SELECT d, s FROM cn),
          |dg AS (SELECT u, COUNT(*) AS deg FROM nb GROUP BY u),
          |st AS (SELECT COUNT(*) AS ends,
          |    CAST(SUM(a.deg) AS BIGINT) AS sum_x,
          |    CAST(SUM(a.deg * a.deg) AS BIGINT) AS sum_xx,
          |    CAST(SUM(a.deg * b.deg) AS BIGINT) AS sum_xy
          |  FROM nb JOIN dg a ON a.u = nb.u JOIN dg b ON b.u = nb.v)
          |SELECT tot.total, tot.reciprocated, tot.reciprocity,
          |  ROUND(CASE WHEN CAST(st.ends AS DOUBLE) * CAST(st.sum_xx AS DOUBLE) -
          |      CAST(st.sum_x AS DOUBLE) * CAST(st.sum_x AS DOUBLE) <> 0.0
          |    THEN (CAST(st.ends AS DOUBLE) * CAST(st.sum_xy AS DOUBLE) -
          |      CAST(st.sum_x AS DOUBLE) * CAST(st.sum_x AS DOUBLE)) /
          |      (CAST(st.ends AS DOUBLE) * CAST(st.sum_xx AS DOUBLE) -
          |      CAST(st.sum_x AS DOUBLE) * CAST(st.sum_x AS DOUBLE))
          |    ELSE 0.0 END, 6) AS assortativity
          |FROM tot, st""".stripMargin)))),

    // Reference k-NN frontend verb through the CALL surface: the
    // embeddings table registered as a named vector store (the per-graph
    // FAISS-index analogue), then CALL graft.knn(store, '7', 5) — top-5
    // cosine neighbours of vector 7. Oracle: brute-force ranking with the
    // same (cosine DESC, id ASC) string-id tie order.
    "cy_call_knn" -> ((
      (s: SparkSession, d: String) => {
        graft.model.GraphCatalog.registerVectors("embstore",
          t(s, d, "embeddings").select(col("vec_id").cast(StringType).as("id"),
            col("embedding")))
        Cypher.run(TpchBridge.graph(s, d),
          "CALL graft.knn('embstore', '7', 5) YIELD qid, id, cosine, rank " +
            "RETURN qid, id, cosine, rank ORDER BY rank")
      },
      Some("""WITH c AS (SELECT CAST(vec_id AS VARCHAR) AS id,
             |    CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
             |q AS (SELECT id AS qid, vec AS qvec FROM c WHERE qid = '7'),
             |scored AS (
             |  SELECT q.qid, c.id, list_cosine_similarity(c.vec, q.qvec) AS cosine,
             |    ROW_NUMBER() OVER (PARTITION BY q.qid
             |      ORDER BY list_cosine_similarity(c.vec, q.qvec) DESC, c.id) AS rank
             |  FROM c CROSS JOIN q)
             |SELECT qid, id, CAST(ROUND(cosine, 6) AS DOUBLE) AS cosine,
             |  CAST(rank AS INTEGER) AS rank
             |FROM scored WHERE rank <= 5 ORDER BY rank""".stripMargin))),

    // MultipleNodeScanByLabel: (:A:B) label lists mean label IN (A, B)
    // (reference QueryPlanner.cpp:284-297).
    "cy_multi_label" -> ((
      cy("MATCH (n:Nation:Customer) RETURN n.id AS id ORDER BY id"),
      Some(bridgeSql(
        "SELECT id FROM nodes WHERE label IN ('Nation','Customer') ORDER BY id")))),

    // IS [NOT] NULL over a property that only some labels carry.
    "cy_isnull" -> ((
      cy("MATCH (n) WHERE n.mktsegment IS NOT NULL RETURN n.id AS id ORDER BY id"),
      Some("SELECT 'c' || c_custkey AS id FROM customer ORDER BY id"))),

    // XOR: exactly one of the two predicates holds.
    "cy_xor" -> ((
      cy("MATCH (c:Customer) WHERE c.acctbal > 5000 XOR c.mktsegment = 'BUILDING' " +
        "RETURN c.id AS id ORDER BY id"),
      Some("""SELECT 'c' || c_custkey AS id FROM customer
             |WHERE (c_acctbal > 5000) <> (c_mktsegment = 'BUILDING')
             |ORDER BY id""".stripMargin))),

    // statement-level UNION: the two branches overlap (both draw from
    // customer mktsegments), so dedup is load-bearing. Result re-sorted
    // after the union — per-branch ORDER BY doesn't survive a UNION.
    "cy_union" -> ((
      (s: SparkSession, d: String) =>
        Cypher.run(TpchBridge.graph(s, d),
          "MATCH (c:Customer) WHERE c.acctbal > 5000 RETURN c.mktsegment AS seg " +
            "UNION MATCH (c:Customer) WHERE c.acctbal < 0 RETURN c.mktsegment AS seg")
          .orderBy(col("seg")),
      Some("""SELECT c_mktsegment AS seg FROM customer WHERE c_acctbal > 5000
             |UNION SELECT c_mktsegment FROM customer WHERE c_acctbal < 0
             |ORDER BY seg""".stripMargin))),

    // CASE over coerced numeric properties (simple + searched forms are
    // spec-tested; the searched form is oracled here).
    "cy_case" -> ((
      cy("MATCH (c:Customer) RETURN c.id AS id, " +
        "CASE WHEN c.acctbal > 5000 THEN 'high' WHEN c.acctbal > 0 THEN 'mid' ELSE 'low' END AS band " +
        "ORDER BY id"),
      Some("""SELECT 'c' || c_custkey AS id,
             |CASE WHEN c_acctbal > 5000 THEN 'high'
             |     WHEN c_acctbal > 0 THEN 'mid' ELSE 'low' END AS band
             |FROM customer ORDER BY id""".stripMargin))),

    // CREATE-then-MATCH in one statement — exercises read-your-writes:
    // the MATCH scans the post-CREATE graph, so the created node is the
    // (only) result row.
    "cy_create_read" -> ((
      (s: SparkSession, d: String) => {
        val (_, res) = Cypher.execute(TpchBridge.graph(s, d),
          "CREATE (x:Probe {id: 'probe1', name: 'alpha'}) " +
            "MATCH (m:Probe) RETURN m.id AS id, m.name AS name")
        res.get
      },
      Some("SELECT 'probe1' AS id, 'alpha' AS name"))),

    // Intersection (reference declares the operator but never executes
    // it, `Operators.h:177-192`): distinct rows present in both branches.
    // The branches overlap on the mktsegments of mid-balance customers.
    "cy_intersect" -> ((
      (s: SparkSession, d: String) =>
        Cypher.intersect(TpchBridge.graph(s, d),
          "MATCH (c:Customer) WHERE c.acctbal > 5000 RETURN c.mktsegment AS seg",
          "MATCH (c:Customer) WHERE c.acctbal < 2000 RETURN c.mktsegment AS seg")
          .orderBy(col("seg")),
      Some("""SELECT c_mktsegment AS seg FROM customer WHERE c_acctbal > 5000
             |INTERSECT
             |SELECT c_mktsegment AS seg FROM customer WHERE c_acctbal < 2000
             |ORDER BY seg""".stripMargin))),

    // MERGE upsert arms: first MERGE matches the created probe node (ON
    // MATCH fires), second misses (ON CREATE fires) — the classic
    // match-vs-create branch pair, read back through read-your-writes.
    "cy_merge_upsert" -> ((
      (s: SparkSession, d: String) => {
        val (_, res) = Cypher.execute(TpchBridge.graph(s, d),
          "CREATE (x:Probe {id: 'm1', name: 'alpha'}) " +
            "MERGE (m:Probe {id: 'm1'}) ON MATCH SET m.status = 'matched' ON CREATE SET m.status = 'created' " +
            "MERGE (n:Probe {id: 'm2'}) ON CREATE SET n.status = 'created' ON MATCH SET n.status = 'matched' " +
            "MATCH (p:Probe) RETURN p.id AS id, p.name AS name, p.status AS status ORDER BY id")
        res.get
      },
      Some("""SELECT * FROM (VALUES ('m1', 'alpha', 'matched'),
             |('m2', CAST(NULL AS VARCHAR), 'created')) AS t(id, name, status)
             |ORDER BY id""".stripMargin))),

    // Standalone SET exercise (constant + expression values in one comma
    // list, `Cypher.applySet`): matched customers gain both keys, the
    // rest read back NULL. The oracle replays the mutation as CASE
    // projections over the base table.
    "cy_set_props" -> ((
      (s: SparkSession, d: String) => {
        val (g2, _) = Cypher.execute(TpchBridge.graph(s, d),
          "MATCH (c:Customer) WHERE c.acctbal > 9000 " +
            "SET c.tier = 'gold', c.seg2 = toLower(c.mktsegment)")
        Cypher.run(g2,
          "MATCH (m:Customer) RETURN m.id AS id, m.tier AS tier, m.seg2 AS seg2 ORDER BY id")
      },
      Some("""SELECT 'c' || c_custkey AS id,
             |  CASE WHEN c_acctbal > 9000 THEN 'gold' END AS tier,
             |  CASE WHEN c_acctbal > 9000 THEN lower(c_mktsegment) END AS seg2
             |FROM customer ORDER BY id""".stripMargin))),

    // Standalone REMOVE exercise (`Cypher.applyRemove` = SET-to-NULL key
    // drop): the matched customers' mktsegment key vanishes (reads back
    // NULL), everyone else keeps theirs.
    "cy_remove_prop" -> ((
      (s: SparkSession, d: String) => {
        val (g2, _) = Cypher.execute(TpchBridge.graph(s, d),
          "MATCH (c:Customer) WHERE c.acctbal < 0 REMOVE c.mktsegment")
        Cypher.run(g2,
          "MATCH (m:Customer) RETURN m.id AS id, m.mktsegment AS seg ORDER BY id")
      },
      Some("""SELECT 'c' || c_custkey AS id,
             |  CASE WHEN c_acctbal < 0 THEN NULL ELSE c_mktsegment END AS seg
             |FROM customer ORDER BY id""".stripMargin))),

    // Standalone DETACH DELETE cascade (`Cypher.applyDelete`): dropping
    // every Supplier removes the nodes AND their incident edges
    // (SUPPLIES + supplier FROM). Readback = per-label node counts ∪
    // per-type edge counts over the MUTATED frames — a missed cascade
    // (orphan edge type surviving) or an over-delete both break exact
    // counts, and the readback is two map-free aggregate scans instead
    // of a label join over the 75M-edge frame (the first cut measured
    // 103 s at sf10 joining node structs twice for a.label; this shape
    // reads ~13 s). The plain-DELETE refusal guard is spec-asserted
    // (CypherSpec "snapshot semantics").
    "cy_delete_detach" -> ((
      (s: SparkSession, d: String) => {
        val (g2, _) = Cypher.execute(TpchBridge.graph(s, d),
          "MATCH (x:Supplier) DETACH DELETE x")
        g2.nodes.groupBy(col("label").as("key")).agg(count(lit(1)).as("m"))
          .withColumn("kind", lit("node"))
          .unionByName(
            g2.edges.groupBy(col("type").as("key")).agg(count(lit(1)).as("m"))
              .withColumn("kind", lit("edge")))
          .select(col("kind"), col("key"), col("m"))
          .orderBy(col("kind"), col("key"))
      },
      Some(bridgeSql(
        """, sup AS (SELECT id FROM nodes WHERE label = 'Supplier')
          |SELECT * FROM (
          |  SELECT 'node' AS kind, label AS key, COUNT(*) AS m
          |  FROM nodes WHERE label <> 'Supplier' GROUP BY 2
          |  UNION ALL
          |  SELECT 'edge', type, COUNT(*)
          |  FROM edges e
          |  WHERE e.src NOT IN (SELECT id FROM sup)
          |    AND e.dst NOT IN (SELECT id FROM sup)
          |  GROUP BY 2
          |) ORDER BY kind, key""".stripMargin)))),

    // Relationship DELETE by eid: every PLACED edge to a finished order
    // goes; each order has exactly one PLACED edge, so the survivor
    // count is the non-'F' order count.
    "cy_delete_rel" -> ((
      (s: SparkSession, d: String) => {
        val (g2, _) = Cypher.execute(TpchBridge.graph(s, d),
          "MATCH (c:Customer)-[r:PLACED]->(o:Order) WHERE o.status = 'F' DELETE r")
        Cypher.run(g2,
          "MATCH (:Customer)-[r:PLACED]->(:Order) RETURN count(r) AS remaining")
      },
      Some("SELECT CAST(COUNT(*) AS BIGINT) AS remaining FROM orders " +
        "WHERE o_orderstatus <> 'F'"))),

    // Reference frontend `lst` through the CALL surface: the catalog
    // listing row per registered graph, counts served from the graphs'
    // cached catalog stats (the metadb analogue). Two deterministic
    // registrations are listed; the oracle recomputes their vertex/edge
    // counts from the base tables.
    "cy_call_lst" -> ((
      (s: SparkSession, d: String) => {
        graft.model.GraphCatalog.register("lst_bridge", TpchBridge.graph(s, d))
        graft.model.GraphCatalog.register("lst_sn", TpchBridge.undirectedGraph(s, d))
        Cypher.run(TpchBridge.graph(s, d),
          "CALL graft.lst() YIELD name, vcnt, ecnt, is_directed " +
            "RETURN name, vcnt, ecnt, is_directed ORDER BY name")
          .where(col("name").isin("lst_bridge", "lst_sn"))
      },
      Some("""SELECT * FROM (
             |  SELECT 'lst_bridge' AS name,
             |    CAST((SELECT COUNT(*) FROM customer) + (SELECT COUNT(*) FROM supplier)
             |      + (SELECT COUNT(*) FROM part) + (SELECT COUNT(*) FROM orders)
             |      + (SELECT COUNT(*) FROM nation) AS BIGINT) AS vcnt,
             |    CAST((SELECT COUNT(*) FROM orders) + (SELECT COUNT(*) FROM lineitem)
             |      + (SELECT COUNT(*) FROM (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem))
             |      + (SELECT COUNT(*) FROM customer) + (SELECT COUNT(*) FROM supplier) AS BIGINT) AS ecnt,
             |    TRUE AS is_directed
             |  UNION ALL
             |  SELECT 'lst_sn',
             |    CAST((SELECT COUNT(*) FROM customer) + (SELECT COUNT(*) FROM supplier) AS BIGINT),
             |    CAST((SELECT COUNT(*) FROM customer) AS BIGINT),
             |    FALSE
             |) ORDER BY name""".stripMargin))),

    // Correlated (lateral) CALL after a binding clause — compiled as an
    // equi-join on the bound node's id, not a per-row re-invocation.
    "cy_call_lateral" -> ((
      cy("MATCH (c:Customer) CALL graft.degree(c, 'out') YIELD degree " +
        "RETURN c.id AS id, degree ORDER BY id"),
      Some(bridgeSql(
        """SELECT n.id, COUNT(e.src) AS degree FROM nodes n
          |LEFT JOIN edges e ON n.id = e.src
          |WHERE n.label = 'Customer'
          |GROUP BY n.id ORDER BY n.id""".stripMargin)))),

    // openCypher statistics aggregates (grammar-only in the reference):
    // stDev/stDevP are FP-order-sensitive, so both sides round to 4
    // places (the PageRank recipe); percentileDisc == DuckDB
    // quantile_disc element-identically (exact-mode percentile_approx).
    "cy_stats_agg" -> ((
      cy("MATCH (c:Customer) " +
        "WITH percentileCont(c.acctbal, 0.5) AS p50, percentileDisc(c.acctbal, 0.9) AS p90, " +
        "stDev(c.acctbal) AS sd, stDevP(c.acctbal) AS sdp " +
        "RETURN round(p50, 4) AS p50, round(p90, 4) AS p90, round(sd, 4) AS sd, round(sdp, 4) AS sdp"),
      Some("""SELECT
             |  CAST(ROUND(quantile_cont(CAST(c_acctbal AS DOUBLE), 0.5), 4) AS DOUBLE) AS p50,
             |  CAST(ROUND(quantile_disc(CAST(c_acctbal AS DOUBLE), 0.9), 4) AS DOUBLE) AS p90,
             |  CAST(ROUND(stddev_samp(CAST(c_acctbal AS DOUBLE)), 4) AS DOUBLE) AS sd,
             |  CAST(ROUND(stddev_pop(CAST(c_acctbal AS DOUBLE)), 4) AS DOUBLE) AS sdp
             |FROM customer""".stripMargin))),

    // List machinery end-to-end: range → UNWIND → reduce/head/last over a
    // per-row list, checked against DuckDB's range/list_aggregate. The
    // reduce fold runs in DOUBLE (engine-wide arithmetic semantics), so
    // the oracle sums DOUBLEs too.
    "cy_list_fns" -> ((
      cy("MATCH (n:Nation) WHERE n.id = 'n3' " +
        "UNWIND range(1, 5) AS i " +
        "RETURN i, reduce(s = 0, x IN range(1, i) | s + x) AS tri, " +
        "head(range(i, 9)) AS h, last(range(i, 9)) AS l ORDER BY i"),
      Some("""SELECT i, CAST(i * (i + 1) / 2 AS DOUBLE) AS tri,
             |  i AS h, CAST(9 AS BIGINT) AS l
             |FROM (SELECT unnest(range(1, 6)) AS i) ORDER BY i""".stripMargin))),

    // List quantifiers all/any/none/single (openCypher 9 §4.2; reference
    // grammar parses them, planner TODO) — forall/exists HOFs, plus the
    // math-function surface (log = ln, degrees/pi) for engine replay.
    "cy_quantifiers" -> ((
      cy("MATCH (n:Nation) WITH n, size(n.name) AS len " +
        "RETURN n.name AS name, " +
        "all(x IN range(1, len) WHERE x > 0) AS q_all, " +
        "any(x IN range(1, len) WHERE x = 7) AS q_any, " +
        "none(x IN range(1, len) WHERE x > 25) AS q_none, " +
        "single(x IN range(1, len) WHERE x = len) AS q_single, " +
        "round(log(exp(len)), 6) AS ln_e, round(degrees(pi()), 6) AS deg " +
        "ORDER BY name"),
      Some("""SELECT n_name AS name,
             |  TRUE AS q_all,
             |  (length(n_name) >= 7) AS q_any,
             |  (length(n_name) <= 25) AS q_none,
             |  TRUE AS q_single,
             |  ROUND(CAST(length(n_name) AS DOUBLE), 6) AS ln_e,
             |  ROUND(CAST(180 AS DOUBLE), 6) AS deg
             |FROM nation ORDER BY name""".stripMargin))),

    // List comprehension [x IN list WHERE pred | proj] (reference grammar
    // parses comprehensions, planner TODO) — filter + transform HOFs;
    // UNWIND flattens the result so the oracle compares scalar rows.
    "cy_list_comp" -> ((
      cy("MATCH (n:Nation) " +
        "UNWIND [x IN split(n.name, 'A') WHERE x <> '' | toLower(x)] AS part " +
        "RETURN n.name AS name, part ORDER BY name, part"),
      Some("""WITH p AS (SELECT n_name AS name,
             |  unnest(list_filter(string_split(n_name, 'A'), x -> x <> '')) AS part
             |  FROM nation)
             |SELECT name, lower(part) AS part FROM p ORDER BY name, part""".stripMargin))),

    // Pattern predicate in WHERE → LEFT SEMI join (openCypher pattern
    // expression; reference grammar-only). The endpoint is property-
    // constrained because the synthetic data references every key —
    // structural EXISTS would never be empty.
    "cy_pattern_exists" -> ((
      cy("MATCH (c:Customer) WHERE c.acctbal > 9000.0 AND " +
        "(c)-[:PLACED]->(:Order {status: 'F'}) RETURN c.id AS id ORDER BY id"),
      Some("""SELECT 'c' || c_custkey AS id FROM customer
             |WHERE c_acctbal > 9000 AND EXISTS (SELECT 1 FROM orders o
             |  WHERE o.o_custkey = customer.c_custkey AND o.o_orderstatus = 'F')
             |ORDER BY id""".stripMargin))),

    // NOT pattern → LEFT ANTI join (71 customers lack an 'F' order at
    // sf0.01 — nonempty on both sides).
    "cy_pattern_not_exists" -> ((
      cy("MATCH (c:Customer) WHERE NOT (c)-[:PLACED]->(:Order {status: 'F'}) " +
        "RETURN c.id AS id ORDER BY id"),
      Some("""SELECT 'c' || c_custkey AS id FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders o
             |  WHERE o.o_custkey = customer.c_custkey AND o.o_orderstatus = 'F')
             |ORDER BY id""".stripMargin))),

    // Named path over a variable-length expansion (`p = ...` with
    // nodes()/relationships()/length()): the planner materializes the
    // path as node/rel struct arrays per unrolled branch, so length(p)
    // is the branch's hop count. Oracle replays the 1- and 2-hop walks
    // from c1 explicitly (directed edges; all bridge edges cross node
    // kinds, so consecutive hops can never reuse an edge here).
    "cy_named_path" -> ((
      cy("MATCH p = (c:Customer)-[*1..2]->(x) WHERE id(c) = 'c1' " +
        "RETURN id(x) AS xid, length(p) AS len, size(nodes(p)) AS nn ORDER BY xid, len"),
      Some(s"""WITH ${TpchBridge.sql.edges},
              |walks AS (
              |  SELECT dst AS xid, 1 AS len FROM edges WHERE src = 'c1'
              |  UNION ALL
              |  SELECT e2.dst, 2 FROM edges e1 JOIN edges e2 ON e2.src = e1.dst
              |  WHERE e1.src = 'c1'
              |)
              |SELECT xid, len, len + 1 AS nn FROM walks ORDER BY xid, len""".stripMargin))),

    // shortestPath() pattern function (reference grammar parses it,
    // planner TODO): min-hop filter over the bounded var-length unroll,
    // one deterministic row per endpoint pair. Oracle: unrolled walks
    // with MIN(len) per target — one row per pair on both sides.
    "cy_shortest_fn" -> ((
      cy("MATCH p = shortestPath((c:Customer)-[*1..3]->(x)) WHERE id(c) = 'c1' " +
        "RETURN id(x) AS xid, length(p) AS len ORDER BY xid"),
      Some(s"""WITH ${TpchBridge.sql.edges},
              |walks AS (
              |  SELECT dst AS xid, 1 AS len FROM edges WHERE src = 'c1'
              |  UNION ALL
              |  SELECT e2.dst, 2 FROM edges e1 JOIN edges e2 ON e2.src = e1.dst
              |  WHERE e1.src = 'c1'
              |  UNION ALL
              |  SELECT e3.dst, 3 FROM edges e1 JOIN edges e2 ON e2.src = e1.dst
              |  JOIN edges e3 ON e3.src = e2.dst WHERE e1.src = 'c1'
              |)
              |SELECT xid, MIN(len) AS len FROM walks GROUP BY xid ORDER BY xid""".stripMargin))),

    // Zero-length variable-length paths (`*0..n`, openCypher's identity
    // branch): hop 0 binds the target to the start node itself with no
    // relationship traversed — length(p) = 0. The oracle adds the
    // explicit identity row to the 1- and 2-hop walk replay.
    "cy_var_zero" -> ((
      cy("MATCH p = (c:Customer)-[*0..2]->(x) WHERE id(c) = 'c1' " +
        "RETURN id(x) AS xid, length(p) AS len ORDER BY xid, len"),
      Some(s"""WITH ${TpchBridge.sql.edges},
              |walks AS (
              |  SELECT 'c1' AS xid, 0 AS len
              |  UNION ALL
              |  SELECT dst, 1 FROM edges WHERE src = 'c1'
              |  UNION ALL
              |  SELECT e2.dst, 2 FROM edges e1 JOIN edges e2 ON e2.src = e1.dst
              |  WHERE e1.src = 'c1'
              |)
              |SELECT xid, len FROM walks ORDER BY xid, len""".stripMargin))),

    // relationships(p) over a named var-length path is the same
    // edge-struct list surface as a bound rel variable — the lambda
    // property/type reads drive the comprehension per hop, and
    // nodes(p) sizes the node chain.
    // Harness contract (r9 emb_quantize precedent, re-learned r14): the
    // driver comparator cannot sort raw array cells, so the bound list
    // is CSV-joined on BOTH sides — the Cypher comprehension still runs
    // over the real edge-struct list; only the declared output is flat.
    "cy_path_rel_types" -> ((
      (s: SparkSession, d: String) =>
        cy("MATCH p = (c:Customer)-[*1..2]->(x) WHERE id(c) = 'c1' " +
          "RETURN id(x) AS xid, [e IN relationships(p) | type(e)] AS ts, " +
          "size(nodes(p)) AS nn ORDER BY xid, ts")(s, d)
          .withColumn("ts", array_join(col("ts"), ",")),
      Some(s"""WITH ${TpchBridge.sql.edges},
              |walks AS (
              |  SELECT dst AS xid, 1 AS n, [type] AS ts
              |  FROM edges WHERE src = 'c1'
              |  UNION ALL
              |  SELECT e2.dst, 2, [e1.type, e2.type]
              |  FROM edges e1 JOIN edges e2 ON e2.src = e1.dst
              |  WHERE e1.src = 'c1'
              |)
              |SELECT xid, array_to_string(ts, ',') AS ts,
              |  CAST(n + 1 AS INTEGER) AS nn
              |FROM walks ORDER BY xid, ts""".stripMargin))),

    // Binding the variable-length relationship (`-[r*1..2]->`): r is
    // the LIST of traversed edge structs — size(r) is the walk length
    // and a list comprehension reads per-hop types in traversal order.
    "cy_var_rel_binding" -> ((
      (s: SparkSession, d: String) =>
        cy("MATCH (c:Customer)-[r*1..2]->(x) WHERE id(c) = 'c1' " +
          "RETURN id(x) AS xid, size(r) AS n, [e IN r | type(e)] AS ts " +
          "ORDER BY xid, n")(s, d)
          .withColumn("ts", array_join(col("ts"), ",")),
      Some(s"""WITH ${TpchBridge.sql.edges},
              |walks AS (
              |  SELECT dst AS xid, 1 AS n, [type] AS ts
              |  FROM edges WHERE src = 'c1'
              |  UNION ALL
              |  SELECT e2.dst, 2, [e1.type, e2.type]
              |  FROM edges e1 JOIN edges e2 ON e2.src = e1.dst
              |  WHERE e1.src = 'c1'
              |)
              |SELECT xid, n, array_to_string(ts, ',') AS ts
              |FROM walks ORDER BY xid, n""".stripMargin))),

    // EXISTS { pattern WHERE pred } existential subquery (reference
    // grammar `ASTBuilder.cpp:1086`, planner TODO): decorrelated into one
    // LEFT SEMI join on the shared customer binding — the inner WHERE
    // filters the subquery side before the join, never per-row.
    "cy_exists_sub" -> ((
      cy("MATCH (c:Customer) WHERE c.acctbal > 9000.0 AND " +
        "EXISTS { (c)-[:PLACED]->(o:Order) WHERE o.totalprice > 100000.0 } " +
        "RETURN c.id AS id ORDER BY id"),
      Some("""SELECT 'c' || c_custkey AS id FROM customer
             |WHERE c_acctbal > 9000 AND EXISTS (SELECT 1 FROM orders o
             |  WHERE o.o_custkey = customer.c_custkey AND o.o_totalprice > 100000)
             |ORDER BY id""".stripMargin))),

    // NOT EXISTS { MATCH ... } → LEFT ANTI join (explicit MATCH keyword
    // form; complements cy_pattern_not_exists which uses the bare
    // pattern-expression syntax).
    "cy_not_exists_sub" -> ((
      cy("MATCH (c:Customer) WHERE NOT EXISTS { MATCH (c)-[:PLACED]->(:Order {status: 'F'}) } " +
        "RETURN c.id AS id ORDER BY id"),
      Some("""SELECT 'c' || c_custkey AS id FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders o
             |  WHERE o.o_custkey = customer.c_custkey AND o.o_orderstatus = 'F')
             |ORDER BY id""".stripMargin))),

    // Pattern comprehension in RETURN (reference grammar
    // `ASTBuilder.cpp:1094-1160`, planner TODO): materialized as ONE
    // grouped collect + left join on n.id; nations with no supplier get
    // an EMPTY list (size 0), exercising the missing-match coalesce.
    "cy_pattern_comp_size" -> ((
      cy("MATCH (n:Nation) RETURN n.id AS id, " +
        "size([(s:Supplier)-[:FROM]->(n) | s.id]) AS nsupp ORDER BY id"),
      Some("""SELECT 'n' || n_nationkey AS id,
             |  CAST((SELECT COUNT(*) FROM supplier s
             |        WHERE s.s_nationkey = nation.n_nationkey) AS INT) AS nsupp
             |FROM nation ORDER BY id""".stripMargin))),

    // Pattern comprehension contents: UNWIND flattens the collected list
    // so the oracle compares scalar rows; the inner WHERE filters before
    // collection.
    "cy_pattern_comp_unwind" -> ((
      cy("MATCH (n:Nation) WHERE n.id = 'n3' " +
        "UNWIND [(s:Supplier)-[:FROM]->(n) WHERE s.acctbal > 0.0 | s.name] AS sname " +
        "RETURN sname ORDER BY sname"),
      Some("""SELECT s_name AS sname FROM supplier
             |WHERE s_nationkey = 3 AND s_acctbal > 0 ORDER BY sname""".stripMargin))),

    // Pattern comprehension inside a WHERE scalar conjunct — the rewrite
    // happens before the filter compiles, so size([...]) >= k is an
    // ordinary codegen'd predicate over the pre-joined list column.
    "cy_pattern_comp_where" -> ((
      cy("MATCH (n:Nation) WHERE size([(s:Supplier)-[:FROM]->(n) | s.id]) >= 2 " +
        "RETURN n.id AS id ORDER BY id"),
      Some("""SELECT 'n' || n_nationkey AS id FROM nation
             |WHERE (SELECT COUNT(*) FROM supplier s
             |       WHERE s.s_nationkey = nation.n_nationkey) >= 2
             |ORDER BY id""".stripMargin))))

  // ======================================================================
  // Graph algorithms (SURVEY.md §2.3)
  // ======================================================================

  private def pageRankOracleSql(alpha: Double, iters: Int): String = {
    val chain = new StringBuilder
    chain.append("outdeg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),\n")
    chain.append("ed AS (SELECT e.src, e.dst, o.d FROM edges e JOIN outdeg o ON e.src = o.src),\n")
    chain.append("r0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS rank FROM nodes)")
    for (i <- 1 to iters) {
      chain.append(s""",
        |r$i AS (SELECT n.id, CAST(${1 - alpha} AS DOUBLE) + CAST($alpha AS DOUBLE) * COALESCE(s.c, 0) AS rank
        |  FROM nodes n LEFT JOIN (
        |    SELECT ed.dst AS id, SUM(r.rank / ed.d) AS c
        |    FROM ed JOIN r${i - 1} r ON ed.src = r.id GROUP BY ed.dst) s
        |  ON n.id = s.id)""".stripMargin)
    }
    // round to 4: double-summation order differs between engines; 1e-13-ish
    // drift after 5 iterations must stay far from the rounding boundary
    s"WITH ${TpchBridge.sql.nodes},\n${TpchBridge.sql.edges},\n${chain.toString}\n" +
      s"SELECT id, CAST(ROUND(rank, 4) AS DOUBLE) AS rank FROM r$iters ORDER BY id"
  }

  /** alg_strian parameters: 3 batches over the induced subgraph on vertex
    * ids < 20000 (keeps the per-prefix recount oracle tractable while the
    * graph stays dense enough to close triangles in every batch).
    * Declared BEFORE the `algorithms` map: the oracle SQL string is built
    * eagerly at object init, so later-declared vals would read as 0. */
  private val strianBatches = 3
  private val strianMaxVertex = 20000

  val algorithms: Map[String, (Q, Option[String])] = Map(
    "alg_counts" -> ((
      (s: SparkSession, d: String) => {
        val g = TpchBridge.graph(s, d)
        g.nodes.agg(count(lit(1)).as("vcnt"))
          .crossJoin(g.edges.agg(count(lit(1)).as("ecnt")))
      },
      Some(bridgeSql(
        "SELECT (SELECT COUNT(*) FROM nodes) AS vcnt, (SELECT COUNT(*) FROM edges) AS ecnt")))),

    "alg_degree_out" -> ((
      (s: SparkSession, d: String) =>
        GraphAlgorithms.degreeDistribution(TpchBridge.graph(s, d), in = false)
          .orderBy(col("degree")),
      Some(bridgeSql(
        """SELECT degree, COUNT(*) AS frequency FROM (
          |  SELECT n.id, COUNT(e.src) AS degree FROM nodes n
          |  LEFT JOIN edges e ON n.id = e.src GROUP BY n.id)
          |GROUP BY 1 ORDER BY 1""".stripMargin)))),

    "alg_degree_in" -> ((
      (s: SparkSession, d: String) =>
        GraphAlgorithms.degreeDistribution(TpchBridge.graph(s, d), in = true)
          .orderBy(col("degree")),
      Some(bridgeSql(
        """SELECT degree, COUNT(*) AS frequency FROM (
          |  SELECT n.id, COUNT(e.dst) AS degree FROM nodes n
          |  LEFT JOIN edges e ON n.id = e.dst GROUP BY n.id)
          |GROUP BY 1 ORDER BY 1""".stripMargin)))),

    "alg_triangles" -> ((
      (s: SparkSession, d: String) =>
        GraphAlgorithms.triangleCountDF(TpchBridge.hashGraphEdges(s, d)),
      Some(s"""WITH ${TpchBridge.sql.hashGraph}
              |SELECT COUNT(*) AS triangles FROM hg e1
              |JOIN hg e2 ON e1.dst = e2.src
              |JOIN hg e3 ON e3.src = e1.src AND e3.dst = e2.dst""".stripMargin))),

    "alg_pagerank" -> ((
      (s: SparkSession, d: String) =>
        GraphAlgorithms.pageRank(TpchBridge.graph(s, d), alpha = 0.85, iterations = 5)
          .select(col("id"), round(col("rank"), 4).as("rank"))
          .orderBy(col("id")),
      Some(pageRankOracleSql(0.85, 5)))),

    "alg_egonet" -> ((
      (s: SparkSession, d: String) =>
        GraphAlgorithms.egonet(TpchBridge.graph(s, d), "n0")
          .orderBy(col("src"), col("dst")),
      Some(bridgeSql(
        """SELECT e.src, e.dst FROM edges e
          |JOIN (SELECT 'n0' AS id
          |      UNION SELECT src FROM edges WHERE dst = 'n0'
          |      UNION SELECT dst FROM edges WHERE src = 'n0') a ON e.src = a.id
          |JOIN (SELECT 'n0' AS id
          |      UNION SELECT src FROM edges WHERE dst = 'n0'
          |      UNION SELECT dst FROM edges WHERE src = 'n0') b ON e.dst = b.id
          |ORDER BY 1, 2""".stripMargin)))),

    // Batched egonets: three nation egos resolved in ONE pass over the
    // edge list (tagged membership table + two joins), vs the per-ego
    // single-egonet operator. Oracle replays the same membership/induced
    // joins per ego in SQL.
    "alg_egonet_multi" -> ((
      (s: SparkSession, d: String) => {
        val egos = t(s, d, "nation").where(col("n_nationkey") < 3)
          .select(concat(lit("n"), col("n_nationkey")).as("ego"))
        GraphAlgorithms.egonets(TpchBridge.graph(s, d), egos)
          .orderBy(col("ego"), col("src"), col("dst"))
      },
      Some(bridgeSql(
        """, egos AS (SELECT 'n' || n_nationkey AS ego FROM nation WHERE n_nationkey < 3),
          |mem AS (
          |  SELECT ego, ego AS m FROM egos
          |  UNION SELECT g.ego, e.dst FROM egos g JOIN edges e ON e.src = g.ego
          |  UNION SELECT g.ego, e.src FROM egos g JOIN edges e ON e.dst = g.ego)
          |SELECT a.ego, e.src, e.dst FROM edges e
          |JOIN mem a ON e.src = a.m
          |JOIN mem b ON b.ego = a.ego AND e.dst = b.m
          |ORDER BY 1, 2, 3""".stripMargin)))),

    // int8 symmetric quantization of the embedding column: per-vector
    // scale (rounded for the float comparison) + codes, replayed
    // bit-identically in DuckDB via the floor(x/scale + 0.5) formula
    // (exact IEEE double ops — round() dialects differ on ties).
    // Codes are emitted CSV-joined: the driver's pandas compare
    // sort_values-crashes on raw array cells (round-8 err), so declared
    // outputs must be scalar-sortable — values unchanged, shape only.
    "emb_quantize" -> ((
      (s: SparkSession, d: String) => {
        val q = Similarity.quantizeInt8(col("embedding"))
        t(s, d, "embeddings")
          .select(col("vec_id"),
            round(q.getField("scale"), 6).as("scale"),
            array_join(transform(q.getField("codes"), _.cast("string")), ",")
              .as("codes"))
          .orderBy(col("vec_id"))
      },
      Some("""SELECT vec_id,
             |  ROUND(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0, 6) AS scale,
             |  array_to_string(CASE WHEN list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) > 0 THEN
             |    list_transform(CAST(embedding AS DOUBLE[]),
             |      x -> CAST(floor(x / (list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y))) / 127.0) + 0.5) AS TINYINT))
             |  ELSE list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(0 AS TINYINT)) END, ',') AS codes
             |FROM embeddings ORDER BY vec_id""".stripMargin))),

    // Product-quantization ADC search (Jégou et al. 2011): m=4 subspaces
    // × k=8 codewords seeded from the 8 smallest-id vectors (iters=0 —
    // the codebook an independent engine reconstructs from the data
    // alone), exact-arithmetic oracle: squared-L2 folds are in-order
    // both engines, the argmin tie-breaks by code, and the ADC total is
    // an explicit left-associated 4-term add, never a data-ordered SUM.
    // IVF-PQ combined search (FAISS IndexIVFPQ shape): coarse centroid
    // routing prunes the candidate set to the probed clusters' PQ codes,
    // then the fixed-order ADC chain scores them. nprobe = #centroids
    // prunes nothing, so the result must EXACTLY equal pqSearch — the
    // exactness-at-full-probe oracle technique (alg_knn_ivf); partial
    // probe is spec-tested.
    "emb_ivfpq" -> ((
      (s: SparkSession, d: String) => {
        val embs = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        val vecs = embs.select(col("vec_id"),
          transform(col("embedding"), _.cast(DoubleType)).as("vec"))
        val centroids = vecs.where(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("vec").as("cvec"))
        val clustered = Similarity.assignClusters(vecs, "vec_id", "vec", centroids, "cid", "cvec")
        val cb = Similarity.pqTrain(embs, "vec_id", "embedding", m = 4, k = 8)
        val codes = Similarity.pqEncode(embs, "vec_id", "embedding", cb, m = 4)
        val queries = embs.where(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        Similarity.knnIvfPq(clustered, "vec_id", codes, cb,
            centroids, "cid", "cvec", queries, "qid", "qvec",
            m = 4, topK = 10, nprobe = 8)
          .orderBy(col("qid"), col("rank"))
      },
      Some(pqAdcOracleSql(m = 4, k = 8, dim = 64, topK = 10)))),

    // JL sign random projection 64 → 16: data-independent LCG sign
    // matrix, one codegen'd dot per output coordinate, exact double
    // parity with DuckDB's left-to-right list_sum fold (no rounding).
    // Declared per-coordinate — (vec_id, i, x) rows via posexplode —
    // because the driver's compare cannot sort raw array cells.
    "emb_random_projection" -> ((
      (s: SparkSession, d: String) =>
        Similarity.randomProjection(t(s, d, "embeddings"), "vec_id", "embedding",
            dim = 64, outDim = 16)
          .withColumnRenamed("id", "vec_id")
          .select(col("vec_id"), posexplode(col("proj")).as(Seq("i", "x")))
          .orderBy(col("vec_id"), col("i")),
      Some(randomProjectionOracleSql(dim = 64, outDim = 16)))),

    "emb_pq_adc" -> ((
      (s: SparkSession, d: String) => {
        val embs = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        val cb = Similarity.pqTrain(embs, "vec_id", "embedding", m = 4, k = 8)
        val codes = Similarity.pqEncode(embs, "vec_id", "embedding", cb, m = 4)
        val queries = embs.where(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        Similarity.pqSearch(codes, cb, queries, "qid", "qvec", m = 4, topK = 10)
          .orderBy(col("qid"), col("rank"))
      },
      Some(pqAdcOracleSql(m = 4, k = 8, dim = 64, topK = 10)))),

    "alg_knn_cosine" -> ((
      (s: SparkSession, d: String) => {
        val embs = t(s, d, "embeddings")
          .select(col("vec_id"), transform(col("embedding"), _.cast(DoubleType)).as("vec"))
        val queries = embs.where(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("vec").as("qvec"))
        Similarity.knnCosine(embs, "vec_id", "vec", queries, "qid", "qvec", k = 10)
          .withColumnRenamed("id", "vec_id")
          .orderBy(col("qid"), col("rank"))
      },
      Some("""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
             |q AS (SELECT vec_id AS qid, vec AS qvec FROM c WHERE vec_id < 5),
             |scored AS (
             |  SELECT q.qid, c.vec_id, list_cosine_similarity(c.vec, q.qvec) AS cosine,
             |    ROW_NUMBER() OVER (PARTITION BY q.qid
             |      ORDER BY list_cosine_similarity(c.vec, q.qvec) DESC, c.vec_id) AS rank
             |  FROM c CROSS JOIN q)
             |SELECT qid, vec_id, CAST(ROUND(cosine, 6) AS DOUBLE) AS cosine, rank
             |FROM scored WHERE rank <= 10 ORDER BY qid, rank""".stripMargin))),

    // IVF two-tier search, oracled via exactness-at-full-probe: with
    // nprobe = #clusters the probe set covers the whole corpus, so IVF
    // must return EXACTLY the brute-force top-k — the oracle is the same
    // all-pairs ranking. (Partial-probe recall is covered by spec.)
    "alg_knn_ivf" -> ((
      (s: SparkSession, d: String) => {
        val embs = t(s, d, "embeddings")
          .select(col("vec_id"), transform(col("embedding"), _.cast(DoubleType)).as("vec"))
        val centroids = embs.where(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("vec").as("cvec"))
        val clustered = Similarity.assignClusters(embs, "vec_id", "vec", centroids, "cid", "cvec")
        val queries = embs.where(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("vec").as("qvec"))
        Similarity.knnIvf(clustered, "vec_id", "vec", centroids, "cid", "cvec",
          queries, "qid", "qvec", k = 10, nprobe = 8)
          .orderBy(col("qid"), col("rank"))
      },
      Some("""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
             |q AS (SELECT vec_id AS qid, vec AS qvec FROM c WHERE vec_id < 5),
             |scored AS (
             |  SELECT q.qid, c.vec_id, list_cosine_similarity(c.vec, q.qvec) AS cosine,
             |    ROW_NUMBER() OVER (PARTITION BY q.qid
             |      ORDER BY list_cosine_similarity(c.vec, q.qvec) DESC, c.vec_id) AS rank
             |  FROM c CROSS JOIN q)
             |SELECT qid, vec_id, CAST(ROUND(cosine, 6) AS DOUBLE) AS cosine, rank
             |FROM scored WHERE rank <= 10 ORDER BY qid, rank""".stripMargin))),

    // IVF with TRAINED centroids (k-means, round-4 closure of the
    // "probe-only IVF" gap): Similarity.trainCentroids learns k=8
    // spherical-k-means centroids from the corpus itself, then the same
    // assign→probe pipeline runs over them. Probing ALL 8 clusters makes
    // the result exactly the brute-force top-k whatever the trained
    // centroids are — so the brute-force DuckDB oracle proves the whole
    // train→assign→probe pipeline loses nothing (exactness-at-full-probe,
    // the alg_knn_ivf technique; training quality itself is spec-tested
    // on separated blobs where the learned partition is checkable).
    "alg_knn_ivf_trained" -> ((
      (s: SparkSession, d: String) => {
        val embs = t(s, d, "embeddings")
          .select(col("vec_id"), transform(col("embedding"), _.cast(DoubleType)).as("vec"))
        val centroids = Similarity.trainCentroids(embs, "vec_id", "vec", k = 8, iters = 5)
        val clustered = Similarity.assignClusters(embs, "vec_id", "vec", centroids, "cid", "cvec")
        val queries = embs.where(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("vec").as("qvec"))
        Similarity.knnIvf(clustered, "vec_id", "vec", centroids, "cid", "cvec",
          queries, "qid", "qvec", k = 10, nprobe = 8)
          .orderBy(col("qid"), col("rank"))
      },
      Some("""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
             |q AS (SELECT vec_id AS qid, vec AS qvec FROM c WHERE vec_id < 5),
             |scored AS (
             |  SELECT q.qid, c.vec_id, list_cosine_similarity(c.vec, q.qvec) AS cosine,
             |    ROW_NUMBER() OVER (PARTITION BY q.qid
             |      ORDER BY list_cosine_similarity(c.vec, q.qvec) DESC, c.vec_id) AS rank
             |  FROM c CROSS JOIN q)
             |SELECT qid, vec_id, CAST(ROUND(cosine, 6) AS DOUBLE) AS cosine, rank
             |FROM scored WHERE rank <= 10 ORDER BY qid, rank""".stripMargin))),

    // Connected components, oracled on the bipartite nation—region graph
    // (5 components, diameter 2). Both engines name a component by its
    // smallest node id.
    "alg_connected_components" -> ((
      (s: SparkSession, d: String) => {
        import graft.model.PropertyGraph
        val nat = t(s, d, "nation").select(
          concat(lit("nat"), col("n_nationkey")).as("id"), col("n_regionkey").as("r"))
        val reg = t(s, d, "region").select(
          concat(lit("reg"), col("r_regionkey")).as("id"), col("r_regionkey").as("r"))
        val nodes = nat.unionByName(reg)
          .select(col("id"), lit("").as("label"),
            map().cast("map<string,string>").as("properties"))
        val edges = nat.select(col("id").as("src"),
            concat(lit("reg"), col("r")).as("dst"), lit("IN").as("type"),
            map().cast("map<string,string>").as("properties"))
        val g = PropertyGraph(nodes, PropertyGraph.withEid(edges), isDirected = false)
        GraphAlgorithms.connectedComponents(g)
          .select(col("id"), col("component").as("comp")).orderBy(col("id"))
      },
      Some("""WITH n AS (SELECT 'nat' || n_nationkey AS id, n_regionkey AS r FROM nation),
             |rg AS (SELECT 'reg' || r_regionkey AS id, r_regionkey AS r FROM region),
             |allv AS (SELECT * FROM n UNION ALL SELECT * FROM rg),
             |comp AS (SELECT r, MIN(id) AS comp FROM allv GROUP BY r)
             |SELECT a.id, c.comp FROM allv a JOIN comp c ON a.r = c.r
             |ORDER BY a.id""".stripMargin))),

    // Streaming triangles (`strian`): three deterministic disjoint edge
    // batches of a vertex-induced hash-graph subgraph fed through
    // StreamingTriangles.addBatch; the returned rows are the RUNNING
    // totals after each batch. The oracle recounts each prefix's
    // triangles from scratch in DuckDB (batch-chained CTEs, the PageRank
    // oracle technique), so a green row proves the incremental ΔT
    // bookkeeping — tri(E∪D) − tri(E) summed over batches — end to end.
    "alg_strian" -> ((
      (s: SparkSession, d: String) => {
        val hg = TpchBridge.hashGraphEdges(s, d)
          .where(col("src").cast(LongType) < strianMaxVertex &&
            col("dst").cast(LongType) < strianMaxVertex)
        val st = new StreamingTriangles(s)
        val totals = (0 until strianBatches).map { b =>
          val batch = hg.where(
            pmod(col("src").cast(LongType) + col("dst").cast(LongType), lit(strianBatches)) === b)
          (b, st.addBatch(batch))
        }
        import s.implicits._
        totals.toDF("batch", "triangles")
      },
      Some(strianOracleSql))),

    // Single-source shortest paths (BFS, parity-plus). Graph: the dense
    // mod-2000 order—part projection of lineitem (the canonical hashGraph
    // is too fragmented for an interesting BFS — avg degree < 1), expanded
    // undirected, source '0', hop cap 6 on BOTH sides. The oracle replays
    // the BFS as a bounded recursive CTE and takes MIN(dist) per vertex —
    // any walk of length ℓ ≤ 6 reaching a vertex witnesses shortest ≤ ℓ,
    // so the minima agree exactly with the frontier BFS.
    "alg_shortest_paths" -> ((
      (s: SparkSession, d: String) => {
        val eb = t(s, d, "lineitem")
          .select((col("l_orderkey") % 2000).cast(StringType).as("src"),
            (col("l_partkey") % 2000).cast(StringType).as("dst"))
          .where(col("src") =!= col("dst")).distinct()
        GraphAlgorithms.shortestPaths(eb, "0", maxHops = 6)
          .orderBy(col("id").cast(LongType))
      },
      Some("""WITH RECURSIVE eb AS (
              |  SELECT DISTINCT CAST(l_orderkey % 2000 AS VARCHAR) AS src,
              |    CAST(l_partkey % 2000 AS VARCHAR) AS dst
              |  FROM lineitem WHERE l_orderkey % 2000 <> l_partkey % 2000),
              |ue AS (SELECT src AS u, dst AS v FROM eb UNION SELECT dst, src FROM eb),
              |walk(id, dist) AS (
              |  SELECT '0', 0
              |  UNION
              |  SELECT e.v, w.dist + 1 FROM walk w JOIN ue e ON e.u = w.id WHERE w.dist < 6
              |)
              |SELECT id, CAST(MIN(dist) AS INTEGER) AS dist FROM walk
              |GROUP BY id ORDER BY CAST(id AS BIGINT)""".stripMargin))),

    // k-truss (parity-plus cohesion mining): 3 synchronous support-peel
    // rounds at k=4 (edges in < 2 triangles drop each round) on a
    // mod-600 thinned lineitem graph dense enough to carry triangles.
    // The orderkey cap makes the subgraph SCALE-INVARIANT (orderkeys are
    // dense from 0, so the same ~8.6k pairs are selected at every SF —
    // a fixed-modulus graph otherwise densifies linearly with SF and the
    // wedge joins quadratically). The oracle replays each round as
    // chained CTEs — triangle enumeration, per-edge support, peel — then
    // reports the surviving edges' support, the kCore round-by-round
    // contract.
    "alg_ktruss" -> ((
      (s: SparkSession, d: String) => {
        val eb = t(s, d, "lineitem")
          .where(col("l_orderkey") < 15000 &&
            pmod(col("l_orderkey") + col("l_partkey"), lit(7)) === 0)
          .select(pmod(col("l_orderkey"), lit(600)).cast(StringType).as("src"),
            pmod(col("l_partkey"), lit(600)).cast(StringType).as("dst"))
        GraphAlgorithms.kTruss(eb, k = 4, rounds = 3)
          .orderBy(col("src").cast(LongType), col("dst").cast(LongType))
      },
      Some(ktrussOracleSql(k = 4, rounds = 3)))),

    // Link prediction (common-neighbors / Jaccard / Adamic–Adar /
    // resource-allocation) on the same scale-invariant capped subgraph as
    // alg_ktruss: one wedge self-join generates candidates, never an
    // all-pairs product. minCommon=4 bounds the emitted pair list.
    // Jaccard is one correctly-rounded integer division (exact replay);
    // the two float sums round to 6 (the pageRank oracle contract).
    "alg_linkpred" -> ((
      (s: SparkSession, d: String) => {
        val eb = t(s, d, "lineitem")
          .where(col("l_orderkey") < 15000 &&
            pmod(col("l_orderkey") + col("l_partkey"), lit(7)) === 0)
          .select(pmod(col("l_orderkey"), lit(600)).cast(StringType).as("src"),
            pmod(col("l_partkey"), lit(600)).cast(StringType).as("dst"))
        GraphAlgorithms.linkPrediction(eb, minCommon = 4)
          .orderBy(col("u").cast(LongType), col("v").cast(LongType))
      },
      Some(linkPredOracleSql(minCommon = 4)))),

    // HITS hubs/authorities on the directed bridge graph, 3 iterations,
    // UNNORMALIZED — integer scores replay bit-identically (normalized
    // float sums would be summation-order-dependent); the ranking is
    // unchanged since normalization is a positive per-iteration scalar.
    "alg_hits" -> ((
      (s: SparkSession, d: String) =>
        GraphAlgorithms.hits(TpchBridge.graph(s, d).edges, iterations = 3)
          .orderBy(col("id")),
      Some(hitsOracleSql(iterations = 3)))),

    // Personalized PageRank: restart onto the 25 Nation nodes — the
    // random-walk-with-restart relevance score, oracled like alg_pagerank
    // (same iteration chain, restart indicator instead of uniform
    // teleport, round-4 contract).
    "alg_ppr" -> ((
      (s: SparkSession, d: String) => {
        val g = TpchBridge.graph(s, d)
        val sources = g.nodes.where(col("label") === "Nation").select(col("id"))
        GraphAlgorithms.personalizedPageRank(g, sources, alpha = 0.85, iterations = 5)
          .select(col("id"), round(col("rank"), 4).as("rank"))
          .orderBy(col("id"))
      },
      Some(pprOracleSql(0.85, 5)))),

    // Betweenness centrality (hop-bounded Brandes, landmark sources — the
    // Brandes & Pich sampled approximation, the only form that scales) on
    // the same mod-900 thinned graph as alg_closeness. σ path counts are
    // exact integers; δ sums round to 4 (the pageRank float contract).
    // The oracle unrolls the forward σ-levels and backward δ-levels as
    // MATERIALIZED CTEs — identical DAG semantics level by level.
    "alg_betweenness" -> ((
      (s: SparkSession, d: String) => {
        val eb = t(s, d, "lineitem")
          .where(pmod(col("l_orderkey") * 31 + col("l_partkey"), lit(97)) === 0)
          .select(pmod(col("l_orderkey"), lit(900)).cast(StringType).as("src"),
            pmod(col("l_partkey"), lit(900)).cast(StringType).as("dst"))
        val nz = eb.where(col("src") =!= col("dst"))
        val landmarks = nz.select(col("src").as("id"))
          .unionByName(nz.select(col("dst").as("id"))).distinct()
          .where(pmod(col("id").cast(LongType), lit(9)) === 0)
        GraphAlgorithms.betweennessCentrality(eb, maxHops = 4,
            sources = Some(landmarks))
          .orderBy(col("id").cast(LongType))
      },
      Some(betweennessOracleSql(maxHops = 4)))),

    // Wedge + rectangle (4-cycle) motif counts on the capped subgraph —
    // the motif statistics beyond triangles, all-integer arithmetic.
    "alg_motifs" -> ((
      (s: SparkSession, d: String) => {
        val eb = t(s, d, "lineitem")
          .where(col("l_orderkey") < 15000 &&
            pmod(col("l_orderkey") + col("l_partkey"), lit(7)) === 0)
          .select(pmod(col("l_orderkey"), lit(600)).cast(StringType).as("src"),
            pmod(col("l_partkey"), lit(600)).cast(StringType).as("dst"))
        GraphAlgorithms.motifCounts(eb)
      },
      Some(
        """WITH eb AS MATERIALIZED (
          |  SELECT CAST(l_orderkey % 600 AS VARCHAR) AS src,
          |    CAST(l_partkey % 600 AS VARCHAR) AS dst
          |  FROM lineitem
          |  WHERE l_orderkey < 15000 AND (l_orderkey + l_partkey) % 7 = 0),
          |cn AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS s, GREATEST(src, dst) AS d
          |  FROM eb WHERE src <> dst),
          |nb AS MATERIALIZED (SELECT s AS w, d AS u FROM cn UNION ALL SELECT d, s FROM cn),
          |dg AS (SELECT w, COUNT(*) AS d FROM nb GROUP BY w),
          |pc AS (SELECT a.u, b.u AS v, COUNT(*) AS n
          |  FROM nb a JOIN nb b ON a.w = b.w WHERE a.u < b.u GROUP BY 1, 2)
          |SELECT
          |  CAST((SELECT SUM((d * (d - 1)) // 2) FROM dg) AS BIGINT) AS wedges,
          |  CAST((SELECT SUM((n * (n - 1)) // 2) // 2 FROM pc) AS BIGINT) AS rectangles""".stripMargin))),

    // Maximal independent set by deterministic Luby rounds on the
    // mod-900 BIGINT graph — priorities are the pure-integer LCG, so the
    // oracle replays every round; 12 unrolled rounds cover convergence
    // (expected O(log n); empty rounds are no-ops on both sides).
    // Jones–Plassmann deterministic greedy coloring on the mod-900
    // graph: fixed LCG priorities, per-round mex over colored
    // neighbors — the oracle replays every round's ready set and color
    // choice as MATERIALIZED CTEs.
    "alg_coloring" -> ((
      (s: SparkSession, d: String) => {
        val eb = t(s, d, "lineitem")
          .where(pmod(col("l_orderkey") * 31 + col("l_partkey"), lit(97)) === 0)
          .select(pmod(col("l_orderkey"), lit(900)).as("src"),
            pmod(col("l_partkey"), lit(900)).as("dst"))
        GraphAlgorithms.jpColoring(eb, rounds = 20)
          .orderBy(col("id"))
      },
      Some(coloringOracleSql(rounds = 20)))),

    "alg_mis" -> ((
      (s: SparkSession, d: String) => {
        val eb = t(s, d, "lineitem")
          .where(pmod(col("l_orderkey") * 31 + col("l_partkey"), lit(97)) === 0)
          .select(pmod(col("l_orderkey"), lit(900)).as("src"),
            pmod(col("l_partkey"), lit(900)).as("dst"))
        GraphAlgorithms.maximalIndependentSet(eb, rounds = 12)
          .orderBy(col("id"))
      },
      Some(misOracleSql(rounds = 12)))),

    // HyperANF neighborhood sketch: per-vertex 256-bucket HLL registers
    // max-merged over 3 hops (probed at every 90th vertex) — the
    // probabilistic neighborhood-function algorithm under an exact
    // integer replay contract; registers feed hllEstimate for ball
    // sizes / effective diameter.
    "alg_nsketch" -> ((
      (s: SparkSession, d: String) => {
        val eb = t(s, d, "lineitem")
          .where(pmod(col("l_orderkey") * 31 + col("l_partkey"), lit(97)) === 0)
          .select(pmod(col("l_orderkey"), lit(900)).as("src"),
            pmod(col("l_partkey"), lit(900)).as("dst"))
        GraphAlgorithms.neighborhoodRegisters(eb, hops = 3)
          .where(pmod(col("id"), lit(90)) === 0)
          .orderBy(col("hop"), col("id"), col("bucket"))
      },
      Some(nsketchOracleSql(hops = 3)))),

    // HyperANF READ path: the neighborhood function N(t) per hop from
    // the register sketch and the q-effective diameter — the first t
    // where N(t) reaches q·N(hops). Registers are exact-integer
    // (alg_nsketch contract); the estimate/N(t) doubles round to 4 on
    // both sides.
    "alg_eff_diameter" -> ((
      (s: SparkSession, d: String) => {
        val eb = t(s, d, "lineitem")
          .where(pmod(col("l_orderkey") * 31 + col("l_partkey"), lit(97)) === 0)
          .select(pmod(col("l_orderkey"), lit(900)).as("src"),
            pmod(col("l_partkey"), lit(900)).as("dst"))
        GraphAlgorithms.effectiveDiameter(eb, hops = 4, q = 0.9)
          .select(col("hop"), round(col("n_estimate"), 4).as("n_estimate"),
            col("effective"))
          .orderBy(col("hop"))
      },
      Some(effDiameterOracleSql(hops = 4, q = 0.9)))),

    // Katz centrality in exact micro-unit integer arithmetic: x ← β +
    // α·Aᵀx without degree normalization (all incoming walks, length-
    // attenuated) — the oracle unrolls every iteration's grouped sum
    // and floor division.
    "alg_katz" -> ((
      (s: SparkSession, d: String) => {
        val eb = TpchBridge.hashGraphEdges(s, d)
          .where(col("src").cast(LongType) < strianMaxVertex &&
            col("dst").cast(LongType) < strianMaxVertex)
        GraphAlgorithms.katz(eb, alphaNum = 1, alphaDen = 10, iterations = 6)
          .orderBy(col("id").cast(LongType))
      },
      Some(katzOracleSql(alphaNum = 1, alphaDen = 10, iters = 6)))),

    // Deterministic maximal matching (Luby on the line graph without
    // materializing it): per round each live edge draws a pure-integer
    // LCG priority and matches iff it is the strict minimum at BOTH
    // endpoints — the oracle replays every round's per-endpoint min and
    // two-sided winner join as MATERIALIZED CTEs.
    "alg_matching" -> ((
      (s: SparkSession, d: String) => {
        val eb = t(s, d, "lineitem")
          .where(pmod(col("l_orderkey") * 31 + col("l_partkey"), lit(97)) === 0)
          .select(pmod(col("l_orderkey"), lit(900)).as("src"),
            pmod(col("l_partkey"), lit(900)).as("dst"))
        GraphAlgorithms.maximalMatching(eb, rounds = 12)
          .orderBy(col("u"), col("v"))
      },
      Some(matchingOracleSql(rounds = 12)))),

    // One METIS-style coarsening level: contract the deterministic
    // maximal matching into supervertices; coarse edge weight counts the
    // fine edges each coarse edge absorbs (the heavy-edge-matching
    // weight of the next level).
    "alg_coarsen" -> ((
      (s: SparkSession, d: String) => {
        val eb = t(s, d, "lineitem")
          .where(pmod(col("l_orderkey") * 31 + col("l_partkey"), lit(97)) === 0)
          .select(pmod(col("l_orderkey"), lit(900)).as("src"),
            pmod(col("l_partkey"), lit(900)).as("dst"))
        GraphAlgorithms.coarsenGraph(eb, rounds = 12)
          .orderBy(col("src"), col("dst"))
      },
      Some(coarsenOracleSql(rounds = 12)))),

    // Heavy-edge-matching coarsening level (the true METIS HEM step):
    // weighted fixture, heaviest incident edge wins each local
    // decision, coarse edges SUM absorbed fine weights — the oracle
    // replays the weighted key ((100−w)·2⁵² leading) round by round.
    "alg_coarsen_hem" -> ((
      (s: SparkSession, d: String) => {
        val eb = t(s, d, "lineitem")
          .where(pmod(col("l_orderkey") * 31 + col("l_partkey"), lit(97)) === 0)
          .select(pmod(col("l_orderkey"), lit(900)).as("src"),
            pmod(col("l_partkey"), lit(900)).as("dst"),
            (pmod(col("l_orderkey") * 13 + col("l_partkey") * 3, lit(100)) + 1)
              .as("weight"))
        GraphAlgorithms.coarsenGraph(eb, rounds = 12, weightCol = Some("weight"))
          .orderBy(col("src"), col("dst"))
      },
      Some(coarsenHemOracleSql(rounds = 12)))),

    // Deterministic Borůvka minimum spanning forest: per round every
    // component selects its minimum incident edge under the strict
    // (weight, cu, cv) key and contracts along it via pointer doubling —
    // the oracle replays each round's per-label best edge, the
    // 2-cycle-broken pointer graph, ten doubling steps and the
    // contraction merge as MATERIALIZED CTEs.
    "alg_mst" -> ((
      (s: SparkSession, d: String) => {
        val eb = t(s, d, "lineitem")
          .where(pmod(col("l_orderkey") * 31 + col("l_partkey"), lit(97)) === 0)
          .select(pmod(col("l_orderkey"), lit(900)).as("src"),
            pmod(col("l_partkey"), lit(900)).as("dst"),
            (pmod(col("l_orderkey") * 7 + col("l_partkey") * 13, lit(100)) + 1)
              .as("weight"))
        GraphAlgorithms.minimumSpanningForest(eb, rounds = 10)
          .orderBy(col("u"), col("v"))
      },
      Some(mstOracleSql(rounds = 10)))),

    // Deterministic random walks (the DeepWalk/node2vec corpus
    // generator) on the mod-900 graph with BIGINT vertex ids (so both
    // engines rank adjacency numerically): every 9th vertex starts one
    // 8-step walk; each step's choice is the pure-integer LCG of
    // (walk id, step) — replayable in plain SQL, no RNG state.
    "alg_random_walks" -> ((
      (s: SparkSession, d: String) => {
        val eb = t(s, d, "lineitem")
          .where(pmod(col("l_orderkey") * 31 + col("l_partkey"), lit(97)) === 0)
          .select(pmod(col("l_orderkey"), lit(900)).as("src"),
            pmod(col("l_partkey"), lit(900)).as("dst"))
        val nz = eb.where(col("src") =!= col("dst"))
        val starts = nz.select(col("src").as("id"))
          .unionByName(nz.select(col("dst").as("id"))).distinct()
          .where(pmod(col("id"), lit(9)) === 0)
          .select(col("id").as("wid"), col("id"))
        GraphAlgorithms.randomWalks(eb, starts, steps = 8)
          .orderBy(col("wid"), col("step"))
      },
      Some(randomWalksOracleSql(steps = 8)))),

    // Skip-gram (center, context) co-occurrence counts over the same
    // walk corpus, window 2 — the word2vec-style training-pair input an
    // embedding pipeline consumes after the walks.
    "alg_walk_pairs" -> ((
      (s: SparkSession, d: String) => {
        val eb = t(s, d, "lineitem")
          .where(pmod(col("l_orderkey") * 31 + col("l_partkey"), lit(97)) === 0)
          .select(pmod(col("l_orderkey"), lit(900)).as("src"),
            pmod(col("l_partkey"), lit(900)).as("dst"))
        val nz = eb.where(col("src") =!= col("dst"))
        val starts = nz.select(col("src").as("id"))
          .unionByName(nz.select(col("dst").as("id"))).distinct()
          .where(pmod(col("id"), lit(9)) === 0)
          .select(col("id").as("wid"), col("id"))
        val walks = GraphAlgorithms.randomWalks(eb, starts, steps = 8)
        GraphAlgorithms.walkSkipGramPairs(walks, window = 2)
          .orderBy(col("center"), col("context"))
      },
      Some(walkPairsOracleSql(steps = 8, window = 2)))),

    // Weight-biased walks (node2vec-style static bias): neighbor chosen
    // by exact integer cumulative-weight interval containing the LCG
    // draw mod total weight — replayed row-for-row by the oracle.
    "alg_weighted_walks" -> ((
      (s: SparkSession, d: String) => {
        val eb = t(s, d, "lineitem")
          .where(pmod(col("l_orderkey") * 31 + col("l_partkey"), lit(97)) === 0)
          .select(pmod(col("l_orderkey"), lit(900)).as("src"),
            pmod(col("l_partkey"), lit(900)).as("dst"))
          .withColumn("weight", pmod(col("src") + col("dst"), lit(7)) + 1)
        val nz = eb.where(col("src") =!= col("dst"))
        val starts = nz.select(col("src").as("id"))
          .unionByName(nz.select(col("dst").as("id"))).distinct()
          .where(pmod(col("id"), lit(9)) === 0)
          .select(col("id").as("wid"), col("id"))
        GraphAlgorithms.weightedRandomWalks(eb, starts, steps = 6)
          .orderBy(col("wid"), col("step"))
      },
      Some(weightedWalksOracleSql(steps = 6)))),

    // Second-order node2vec walks: p/q return/in-out bias from the
    // (prev, cur) state, scaled to exact integers {q, p·q, p} — the
    // oracle replays every candidate's bias, cumulative interval and
    // draw step by step. p=2, q=3 makes all three bias classes distinct.
    "alg_node2vec_walks" -> ((
      (s: SparkSession, d: String) => {
        val eb = t(s, d, "lineitem")
          .where(pmod(col("l_orderkey") * 31 + col("l_partkey"), lit(97)) === 0)
          .select(pmod(col("l_orderkey"), lit(900)).as("src"),
            pmod(col("l_partkey"), lit(900)).as("dst"))
        val nz = eb.where(col("src") =!= col("dst"))
        val starts = nz.select(col("src").as("id"))
          .unionByName(nz.select(col("dst").as("id"))).distinct()
          .where(pmod(col("id"), lit(9)) === 0)
          .select(col("id").as("wid"), col("id"))
        GraphAlgorithms.node2vecWalks(eb, starts, steps = 6, p = 2, q = 3)
          .orderBy(col("wid"), col("step"))
      },
      Some(node2vecWalksOracleSql(steps = 6, p = 2, q = 3)))),

    // Positive PMI over the walk corpus (the matrix SGNS embeddings
    // factorize): marginals + total from the same pair table, ln with a
    // fixed-shape argument, round 6 (the Adamic-Adar precedent).
    "alg_walk_ppmi" -> ((
      (s: SparkSession, d: String) => {
        val eb = t(s, d, "lineitem")
          .where(pmod(col("l_orderkey") * 31 + col("l_partkey"), lit(97)) === 0)
          .select(pmod(col("l_orderkey"), lit(900)).as("src"),
            pmod(col("l_partkey"), lit(900)).as("dst"))
        val nz = eb.where(col("src") =!= col("dst"))
        val starts = nz.select(col("src").as("id"))
          .unionByName(nz.select(col("dst").as("id"))).distinct()
          .where(pmod(col("id"), lit(9)) === 0)
          .select(col("id").as("wid"), col("id"))
        val walks = GraphAlgorithms.randomWalks(eb, starts, steps = 8)
        GraphAlgorithms.walkPpmiScores(walks, window = 2)
          .orderBy(col("center"), col("context"))
      },
      Some(walkPpmiOracleSql(steps = 8, window = 2)))),

    // Closeness + harmonic centrality via hop-bounded multi-source BFS on
    // a hash-thinned mod-900 lineitem graph (~1% of pairs kept so
    // distances are non-trivial), in LANDMARK mode — every 9th vertex is
    // a source, the operator's documented posture at scale (all-sources
    // state is |V|·reach; the graph densifies with SF, so the sampled
    // form is what a 100 TB run would execute). The oracle recomputes
    // each landmark's BFS with a recursive walk CTE and folds harmonic in
    // the same fixed hop order (n1/1 + ... + n6/6) — bit-identical
    // double arithmetic.
    "alg_closeness" -> ((
      (s: SparkSession, d: String) => {
        val eb = t(s, d, "lineitem")
          .where(pmod(col("l_orderkey") * 31 + col("l_partkey"), lit(97)) === 0)
          .select(pmod(col("l_orderkey"), lit(900)).cast(StringType).as("src"),
            pmod(col("l_partkey"), lit(900)).cast(StringType).as("dst"))
        val nz = eb.where(col("src") =!= col("dst"))
        val landmarks = nz.select(col("src").as("id"))
          .unionByName(nz.select(col("dst").as("id"))).distinct()
          .where(pmod(col("id").cast(LongType), lit(9)) === 0)
        GraphAlgorithms.closenessCentrality(eb, maxHops = 6,
            sources = Some(landmarks))
          .orderBy(col("id").cast(LongType))
      },
      Some(closenessOracleSql(maxHops = 6)))),

    // Hop-bounded eccentricity from the same landmark set as
    // alg_closeness (per-source max BFS distance; diameter/radius are
    // one aggregate away). Exact integer outputs — no float contract
    // needed.
    "alg_eccentricity" -> ((
      (s: SparkSession, d: String) => {
        val eb = t(s, d, "lineitem")
          .where(pmod(col("l_orderkey") * 31 + col("l_partkey"), lit(97)) === 0)
          .select(pmod(col("l_orderkey"), lit(900)).cast(StringType).as("src"),
            pmod(col("l_partkey"), lit(900)).cast(StringType).as("dst"))
        val nz = eb.where(col("src") =!= col("dst"))
        val landmarks = nz.select(col("src").as("id"))
          .unionByName(nz.select(col("dst").as("id"))).distinct()
          .where(pmod(col("id").cast(LongType), lit(9)) === 0)
        GraphAlgorithms.eccentricity(eb, maxHops = 6,
            sources = Some(landmarks))
          .orderBy(col("id").cast(LongType))
      },
      Some(eccentricityOracleSql(maxHops = 6)))),

    // Edge reciprocity of the DIRECTED capped graph — the fraction of
    // distinct edges whose reverse edge exists. One self-join + one
    // aggregate; exact counts, one rounded division.
    "alg_reciprocity" -> ((
      (s: SparkSession, d: String) =>
        GraphAlgorithms.reciprocity(
          t(s, d, "lineitem")
            .where(col("l_orderkey") < 15000 &&
              pmod(col("l_orderkey") + col("l_partkey"), lit(7)) === 0)
            .select(pmod(col("l_orderkey"), lit(600)).cast(StringType).as("src"),
              pmod(col("l_partkey"), lit(600)).cast(StringType).as("dst"))),
      Some("""WITH eb AS MATERIALIZED (
             |  SELECT DISTINCT CAST(l_orderkey % 600 AS VARCHAR) AS src,
             |    CAST(l_partkey % 600 AS VARCHAR) AS dst
             |  FROM lineitem
             |  WHERE l_orderkey < 15000 AND (l_orderkey + l_partkey) % 7 = 0),
             |e AS MATERIALIZED (SELECT src, dst FROM eb WHERE src <> dst)
             |SELECT COUNT(*) AS total, COUNT(r.src) AS reciprocated,
             |  COALESCE(ROUND(CAST(COUNT(r.src) AS DOUBLE) /
             |    CAST(COUNT(*) AS DOUBLE), 6), 0.0) AS reciprocity
             |FROM e LEFT JOIN e r ON r.src = e.dst AND r.dst = e.src""".stripMargin))),

    // Degree assortativity (Newman 2002) of the capped undirected graph:
    // exact BIGINT sufficient statistics over both orientations of each
    // canonical edge, r as a fixed-order double expression over them.
    "alg_assortativity" -> ((
      (s: SparkSession, d: String) =>
        GraphAlgorithms.degreeAssortativity(
          t(s, d, "lineitem")
            .where(col("l_orderkey") < 15000 &&
              pmod(col("l_orderkey") + col("l_partkey"), lit(7)) === 0)
            .select(pmod(col("l_orderkey"), lit(600)).cast(StringType).as("src"),
              pmod(col("l_partkey"), lit(600)).cast(StringType).as("dst"))),
      Some("""WITH eb AS MATERIALIZED (
             |  SELECT DISTINCT CAST(l_orderkey % 600 AS VARCHAR) AS src,
             |    CAST(l_partkey % 600 AS VARCHAR) AS dst
             |  FROM lineitem
             |  WHERE l_orderkey < 15000 AND (l_orderkey + l_partkey) % 7 = 0),
             |cn AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS s, GREATEST(src, dst) AS d
             |  FROM eb WHERE src <> dst),
             |nb AS MATERIALIZED (SELECT s AS u, d AS v FROM cn UNION ALL SELECT d, s FROM cn),
             |dg AS (SELECT u, COUNT(*) AS deg FROM nb GROUP BY u),
             |st AS (SELECT COUNT(*) AS ends,
             |    CAST(SUM(a.deg) AS BIGINT) AS sum_x,
             |    CAST(SUM(a.deg * a.deg) AS BIGINT) AS sum_xx,
             |    CAST(SUM(a.deg * b.deg) AS BIGINT) AS sum_xy
             |  FROM nb JOIN dg a ON a.u = nb.u JOIN dg b ON b.u = nb.v)
             |SELECT ends, sum_x, sum_xx, sum_xy,
             |  ROUND(CASE WHEN CAST(ends AS DOUBLE) * CAST(sum_xx AS DOUBLE) -
             |      CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE) <> 0.0
             |    THEN (CAST(ends AS DOUBLE) * CAST(sum_xy AS DOUBLE) -
             |      CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE)) /
             |      (CAST(ends AS DOUBLE) * CAST(sum_xx AS DOUBLE) -
             |      CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE))
             |    ELSE 0.0 END, 6) AS assortativity
             |FROM st""".stripMargin))),

    // Newman–Girvan modularity of the connected-components partition on
    // the thinned mod-900 graph (58 components at sf0.01 → Q ≈ 0.30, a
    // non-trivial partition) — composes the one connected-components
    // engine (GraphAlgorithms.pairComponents, through
    // Dedup.nearDupClusters' pair-list surface) with the modularity metric;
    // the oracle recomputes components as min-reachable-id and replays the
    // two exact integer terms.
    "alg_modularity" -> ((
      (s: SparkSession, d: String) => {
        val eb = t(s, d, "lineitem")
          .where(pmod(col("l_orderkey") * 31 + col("l_partkey"), lit(97)) === 0)
          .select(pmod(col("l_orderkey"), lit(900)).cast(StringType).as("src"),
            pmod(col("l_partkey"), lit(900)).cast(StringType).as("dst"))
        val comm = graft.pipeline.Dedup.nearDupClusters(
            eb.where(col("src") =!= col("dst"))
              .select(col("src").as("idA"), col("dst").as("idB")))
          .select(col("id"), col("canonical").as("community"))
        GraphAlgorithms.modularity(eb, comm)
      },
      Some("""WITH RECURSIVE eb AS (
             |  SELECT DISTINCT CAST(l_orderkey % 900 AS VARCHAR) AS src,
             |    CAST(l_partkey % 900 AS VARCHAR) AS dst
             |  FROM lineitem WHERE (l_orderkey * 31 + l_partkey) % 97 = 0),
             |cn AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS s, GREATEST(src, dst) AS d
             |  FROM eb WHERE src <> dst),
             |nb AS MATERIALIZED (SELECT s AS u, d AS v FROM cn UNION ALL SELECT d, s FROM cn),
             |verts AS (SELECT DISTINCT u FROM nb),
             |reach(s, v) AS (SELECT u, u FROM verts
             |  UNION SELECT r.s, nb.v FROM reach r JOIN nb ON nb.u = r.v),
             |comp AS MATERIALIZED (SELECT s AS id, MIN(v) AS c FROM reach GROUP BY s),
             |mi AS (SELECT COUNT(*) AS m,
             |    COUNT(CASE WHEN c1.c = c2.c THEN 1 END) AS intra
             |  FROM cn JOIN comp c1 ON c1.id = cn.s JOIN comp c2 ON c2.id = cn.d),
             |dg AS (SELECT u AS id, COUNT(*) AS deg FROM nb GROUP BY u),
             |dc AS (SELECT c, SUM(deg) AS vol FROM dg JOIN comp ON dg.id = comp.id GROUP BY c),
             |b AS (SELECT CAST(COALESCE(SUM(vol * vol), 0) AS BIGINT) AS degsq FROM dc)
             |SELECT mi.m, mi.intra, b.degsq,
             |  ROUND(CASE WHEN mi.m > 0
             |    THEN CAST(mi.intra AS DOUBLE) / CAST(mi.m AS DOUBLE) -
             |      CAST(b.degsq AS DOUBLE) /
             |        (4.0 * CAST(mi.m AS DOUBLE) * CAST(mi.m AS DOUBLE))
             |    ELSE 0.0 END, 6) AS modularity
             |FROM mi, b""".stripMargin))),

    // Full core-number (k-shell) decomposition of the thinned mod-900
    // graph under the bounded schedule (maxK=4, 6 rounds per level —
    // enough for exactness here: the graph's degeneracy is 2). The
    // oracle replays every level's every round as MATERIALIZED CTEs.
    "alg_core_numbers" -> ((
      (s: SparkSession, d: String) =>
        GraphAlgorithms.coreNumbers(
          t(s, d, "lineitem")
            .where(pmod(col("l_orderkey") * 31 + col("l_partkey"), lit(97)) === 0)
            .select(pmod(col("l_orderkey"), lit(900)).cast(StringType).as("src"),
              pmod(col("l_partkey"), lit(900)).cast(StringType).as("dst")),
          maxK = 4, roundsPerK = 6)
          .orderBy(col("id").cast(LongType)),
      Some(coreNumbersOracleSql(maxK = 4, roundsPerK = 6)))),

    // Louvain-style community detection (one level of synchronous
    // modularity-greedy local moves, alternating-parity determinism,
    // exact integer gains) on the thinned mod-900 BIGINT graph. The
    // oracle replays every round: community volumes, neighbor-community
    // counts, the 2m-scaled integer gain, (gain DESC, label ASC) argmax,
    // parity-gated adoption.
    "alg_louvain" -> ((
      (s: SparkSession, d: String) =>
        GraphAlgorithms.louvainCommunities(
          t(s, d, "lineitem")
            .where(pmod(col("l_orderkey") * 31 + col("l_partkey"), lit(97)) === 0)
            .select(pmod(col("l_orderkey"), lit(900)).as("src"),
              pmod(col("l_partkey"), lit(900)).as("dst")),
          rounds = 4)
          .orderBy(col("id")),
      Some(louvainOracleSql(rounds = 4)))),

    // Balanced min-cut BATCH partitioning — the reference
    // MetisPartitioner's objective (gpmetis: minimize edge cut under a
    // balance constraint; MetisPartitioner.cpp:204-302 round-trips the
    // whole graph through one driver-local metis run) as deterministic
    // synchronous balanced label propagation on the thinned mod-900
    // graph: md5-byte init/parity, integer capacity ceil(n·110/400),
    // k·(C−load) BIGINT scores, 3 rounds. The oracle replays every
    // round: loads, neighbor-partition counts, scores, (score DESC,
    // load ASC, part ASC) argmax, parity-gated adoption.
    "alg_partition_blp" -> ((
      (s: SparkSession, d: String) =>
        GraphAlgorithms.balancedPartition(
          t(s, d, "lineitem")
            .where(pmod(col("l_orderkey") * 31 + col("l_partkey"), lit(97)) === 0)
            .select(pmod(col("l_orderkey"), lit(900)).as("src"),
              pmod(col("l_partkey"), lit(900)).as("dst")),
          numParts = 4, rounds = 3)
          .orderBy(col("id")),
      Some(blpOracleSql(rounds = 3, parts = 4, slackPct = 10)))),

    // The full METIS-style V-cycle (the reference MetisPartitioner's
    // actual algorithm class): matching-contraction, BLP on the coarse
    // graph, projection, seeded BLP refinement on the fine graph — all
    // deterministic, replayed end-to-end by one CTE-pipeline oracle.
    "alg_partition_multilevel" -> ((
      (s: SparkSession, d: String) =>
        GraphAlgorithms.multilevelPartition(
          t(s, d, "lineitem")
            .where(pmod(col("l_orderkey") * 31 + col("l_partkey"), lit(97)) === 0)
            .select(pmod(col("l_orderkey"), lit(900)).as("src"),
              pmod(col("l_partkey"), lit(900)).as("dst")),
          numParts = 4, matchRounds = 12, coarseRounds = 3, refineRounds = 2)
          .orderBy(col("id")),
      Some(multilevelOracleSql(matchRounds = 12, parts = 4,
        coarseRounds = 3, refineRounds = 2, slackPct = 10)))),

    // Quality of the RECURSIVE V-cycle assignment (levels = 2,
    // refineRounds = 4) — read next to alg_partition_quality (the
    // flat-BLP row on the same fixture) it makes the deeper recursion's
    // value measurable inside the gate artifacts. Drive-measured (r17,
    // intended-k metric): vs the 1-level/2-refine cycle, cut_ratio
    // 0.283 → 0.179 and imbalance 1.09 → 1.09 at sf0.01, cut 0.574 →
    // 0.458 and imbalance 2.08 → 2.07 at sf0.1 — the second level buys
    // ~35% of the remaining cut at equal balance.
    "alg_partition_ml_quality" -> ((
      (s: SparkSession, d: String) => {
        val eb = t(s, d, "lineitem")
          .where(pmod(col("l_orderkey") * 31 + col("l_partkey"), lit(97)) === 0)
          .select(pmod(col("l_orderkey"), lit(900)).as("src"),
            pmod(col("l_partkey"), lit(900)).as("dst"))
        GraphAlgorithms.partitionQuality(eb,
          GraphAlgorithms.multilevelPartition(eb, numParts = 4,
            matchRounds = 12, coarseRounds = 3, refineRounds = 4, levels = 2),
          numParts = Some(4))
      },
      Some(multilevel2QualityOracleSql(matchRounds = 12, parts = 4,
        coarseRounds = 3, refineRounds = 4, slackPct = 10)))),

    // The RECURSIVE V-cycle (levels = 2): coarsen twice — unweighted
    // local-minimum matching at the fine level, heavy-edge matching on
    // the weighted coarse graph — partition the coarsest under both
    // weight chains, then project + refine back up through BOTH levels
    // (weighted seeded BLP at level 1, plain at the fine level). The
    // oracle replays the full recursion: two matching chains, two
    // contractions, the vertex-weight chain, and all three BLP chains
    // as one CTE pipeline.
    "alg_partition_ml2" -> ((
      (s: SparkSession, d: String) =>
        GraphAlgorithms.multilevelPartition(
          t(s, d, "lineitem")
            .where(pmod(col("l_orderkey") * 31 + col("l_partkey"), lit(97)) === 0)
            .select(pmod(col("l_orderkey"), lit(900)).as("src"),
              pmod(col("l_partkey"), lit(900)).as("dst")),
          numParts = 4, matchRounds = 12, coarseRounds = 3, refineRounds = 4,
          levels = 2)
          .orderBy(col("id")),
      Some(multilevel2OracleSql(matchRounds = 12, parts = 4,
        coarseRounds = 3, refineRounds = 4, slackPct = 10)))),

    // Partition quality of the BLP assignment: exact cut-edge counts /
    // ratio and load balance over the canonical simple graph — the
    // summary the reference logs after a gpmetis run and tracks
    // incrementally in its streaming partitioner. One row.
    "alg_partition_quality" -> ((
      (s: SparkSession, d: String) => {
        val eb = t(s, d, "lineitem")
          .where(pmod(col("l_orderkey") * 31 + col("l_partkey"), lit(97)) === 0)
          .select(pmod(col("l_orderkey"), lit(900)).as("src"),
            pmod(col("l_partkey"), lit(900)).as("dst"))
        GraphAlgorithms.partitionQuality(eb,
          GraphAlgorithms.balancedPartition(eb, numParts = 4, rounds = 3),
          numParts = Some(4))
      },
      Some(blpQualityOracleSql(rounds = 3, parts = 4, slackPct = 10)))),

    // The reference's streaming placement stage (`Partitioner.cpp:28-43`)
    // in its HASH dispatch — the one mode whose placements are
    // order-independent and so exactly SQL-replayable (LDG/Fennel
    // placements depend on every earlier placement; their deterministic
    // replays are pure-Scala spec assertions in StreamingSpec, SURVEY
    // §8). Feeds the thinned mod-900 graph edge-by-edge through the
    // driver-side sequential fold (the reference's own regime) and
    // declares the per-partition stats() surface: vertices by
    // floorMod(id, k) and edge cuts counted on BOTH sides, exactly
    // `addToEdgeCuts`. Self-loops place the vertex but never cut.
    "alg_partition_stream" -> ((
      (s: SparkSession, d: String) => {
        val eb = t(s, d, "lineitem")
          .where(pmod(col("l_orderkey") * 31 + col("l_partkey"), lit(97)) === 0)
          .select(pmod(col("l_orderkey"), lit(900)).cast(StringType).as("src"),
            pmod(col("l_partkey"), lit(900)).cast(StringType).as("dst"))
          .orderBy(col("src"), col("dst"))
        val p = new graft.streaming.StreamingPartitioner(k = 4, mode = "hash")
        p.addBatch(eb)
        p.stats(s).orderBy(col("partition"))
      },
      Some("""WITH eb AS (SELECT CAST(l_orderkey % 900 AS VARCHAR) AS src,
             |    CAST(l_partkey % 900 AS VARCHAR) AS dst
             |  FROM lineitem WHERE (l_orderkey * 31 + l_partkey) % 97 = 0),
             |v AS (SELECT DISTINCT id FROM
             |  (SELECT src AS id FROM eb UNION ALL SELECT dst FROM eb)),
             |vp AS (SELECT CAST(id AS BIGINT) % 4 AS p, COUNT(*) AS vertices
             |  FROM v GROUP BY 1),
             |cut_sides AS (
             |  SELECT CAST(src AS BIGINT) % 4 AS p FROM eb
             |  WHERE CAST(src AS BIGINT) % 4 <> CAST(dst AS BIGINT) % 4
             |  UNION ALL
             |  SELECT CAST(dst AS BIGINT) % 4 FROM eb
             |  WHERE CAST(src AS BIGINT) % 4 <> CAST(dst AS BIGINT) % 4),
             |cuts AS (SELECT p, COUNT(*) AS edge_cuts FROM cut_sides GROUP BY 1),
             |parts AS (SELECT unnest(range(4)) AS p)
             |SELECT CAST(parts.p AS INTEGER) AS "partition",
             |  CAST(COALESCE(vp.vertices, 0) AS BIGINT) AS vertices,
             |  CAST(COALESCE(cuts.edge_cuts, 0) AS BIGINT) AS edge_cuts
             |FROM parts LEFT JOIN vp ON vp.p = parts.p
             |LEFT JOIN cuts ON cuts.p = parts.p
             |ORDER BY 1""".stripMargin))),

    // FastRP node embeddings (CIKM'19) in the exact-integer contract:
    // md5-derived very-sparse ±1 projection (density 1/3), two
    // neighbor-sum iterates over the 50k-vertex hash graph's undirected
    // collapse (the partitioning family's mid-size fixture) — A·R and
    // A²·R without the per-iterate positive rescale, so every
    // coordinate is a BIGINT the oracle replays exactly. One
    // edge⋈vertex join + one vertex aggregate per iterate regardless of
    // dims (dimensions are columns, not rows).
    "alg_fastrp" -> ((
      (s: SparkSession, d: String) =>
        GraphAlgorithms.fastRP(TpchBridge.hashGraphEdges(s, d),
          dims = 4, iterations = 2)
          .orderBy(col("id")),
      Some(fastRpOracleSql(dims = 4, iterations = 2)))),

    // Weighted FastRP (the balancedPartition weighted-form convention):
    // the neighbor sum becomes Σ w·N(u) with the deterministic
    // (src+dst) % 7 + 1 weight — exact BIGINT coordinates throughout,
    // the oracle threads the same weight through both orientations.
    "alg_fastrp_weighted" -> ((
      (s: SparkSession, d: String) => {
        val eb = TpchBridge.hashGraphEdges(s, d)
          .select(col("src"), col("dst"),
            (pmod(col("src").cast(LongType) + col("dst").cast(LongType),
              lit(7)) + 1).as("weight"))
        GraphAlgorithms.fastRP(eb, dims = 4, iterations = 2,
          edgeWeightCol = Some("weight"))
          .orderBy(col("id"))
      },
      Some(fastRpOracleSql(dims = 4, iterations = 2, weightExpr =
        Some("(CAST(s AS BIGINT) + CAST(d AS BIGINT)) % 7 + 1"))))),

    // The FastRP embeddings feeding the kNN surface (the reference's
    // "train embeddings, then ANN-search them" loop with the classical
    // non-learned embedder): cosine top-5 over the SECOND iterate's
    // coordinates for the three smallest non-zero-norm vertices.
    // Exact-integer coordinates make the raw ranking key bit-identical
    // cross-engine; zero-norm vectors drop on both sides. The
    // recurrence output is checkpointed once — corpus and query sides
    // read the same frame, not two recomputed recurrences.
    "alg_fastrp_knn" -> ((
      (s: SparkSession, d: String) => {
        val emb = GraphAlgorithms.fastRP(TpchBridge.hashGraphEdges(s, d),
            dims = 4, iterations = 2)
          .select(col("id"),
            array((0 until 4).map(j => col(s"r2_$j").cast(DoubleType)): _*).as("vec"))
          .where(Similarity.l2norm(col("vec")) > 0)
          .localCheckpoint(true)
        val queries = emb.orderBy(col("id")).limit(3)
          .select(col("id").as("qid"), col("vec").as("qvec"))
        Similarity.knnCosine(emb, "id", "vec", queries, "qid", "qvec", k = 5)
          .orderBy(col("qid"), col("rank"))
      },
      Some(fastRpKnnOracleSql(dims = 4, k = 5)))),

    // Deterministic snowball sampling of the thinned mod-900 BIGINT
    // graph: seeds = ids ≡ 0 (mod 90), 3 capped hops, ≤4 LCG-ranked
    // neighbors admitted per frontier vertex; result = induced edges.
    // The oracle replays every hop (LCG priority, per-vertex rank ≤ 4,
    // member anti-join) and the closing induced-edge semi-joins.
    "alg_graph_sample" -> ((
      (s: SparkSession, d: String) => {
        val eb = t(s, d, "lineitem")
          .where(pmod(col("l_orderkey") * 31 + col("l_partkey"), lit(97)) === 0)
          .select(pmod(col("l_orderkey"), lit(900)).as("src"),
            pmod(col("l_partkey"), lit(900)).as("dst"))
        val nz = eb.where(col("src") =!= col("dst"))
        val seeds = nz.select(col("src").as("id"))
          .unionByName(nz.select(col("dst").as("id"))).distinct()
          .where(pmod(col("id"), lit(90)) === 0)
        GraphAlgorithms.snowballSample(eb, seeds, hops = 3, maxNeighbors = 4)
          .orderBy(col("src"), col("dst"))
      },
      Some(snowballOracleSql(hops = 3, cap = 4)))),

    // Kahn layering of the capped graph oriented small-id → large-id (a
    // DAG by construction): level = longest path from any zero-in-degree
    // vertex — the scheduling-depth query. The oracle replays it as a
    // bounded longest-path walk taking MAX(d).
    "alg_topo_levels" -> ((
      (s: SparkSession, d: String) => {
        val eb = t(s, d, "lineitem")
          .where(col("l_orderkey") < 15000 &&
            pmod(col("l_orderkey") + col("l_partkey"), lit(7)) === 0)
          .select(
            least(pmod(col("l_orderkey"), lit(600)), pmod(col("l_partkey"), lit(600))).as("src"),
            greatest(pmod(col("l_orderkey"), lit(600)), pmod(col("l_partkey"), lit(600))).as("dst"))
        GraphAlgorithms.topologicalLevels(eb, maxRounds = 650)
          .orderBy(col("id"))
      },
      Some("""WITH RECURSIVE e AS (
             |  SELECT DISTINCT LEAST(l_orderkey % 600, l_partkey % 600) AS u,
             |    GREATEST(l_orderkey % 600, l_partkey % 600) AS v
             |  FROM lineitem
             |  WHERE l_orderkey < 15000 AND (l_orderkey + l_partkey) % 7 = 0
             |    AND l_orderkey % 600 <> l_partkey % 600),
             |src AS (SELECT DISTINCT u FROM e WHERE u NOT IN (SELECT v FROM e)),
             |walk(v, d) AS (SELECT u, 0 FROM src
             |  UNION SELECT e.v, w.d + 1 FROM walk w JOIN e ON e.u = w.v
             |  WHERE w.d < 650)
             |SELECT v AS id, CAST(MAX(d) AS BIGINT) AS level FROM walk
             |GROUP BY v ORDER BY id""".stripMargin))),

    // Weighted shortest paths (hop-bounded Bellman–Ford, parity-plus) on
    // the sparse canonical hash-graph (small components keep the oracle's
    // path enumeration finite): weight = (src+dst) % 7 + 1 replayed in
    // both engines, source = the max-degree vertex (ties → smallest id),
    // 6 relaxation rounds vs a ≤6-hop weighted-walk CTE taking MIN(dist).
    // Bellman–Ford after k rounds == min over ≤k-hop paths, exactly.
    "alg_weighted_sp" -> ((
      (s: SparkSession, d: String) => {
        val eb = TpchBridge.hashGraphEdges(s, d)
          .where(col("src").cast(LongType) < strianMaxVertex &&
            col("dst").cast(LongType) < strianMaxVertex)
          .select(col("src"), col("dst"),
            (pmod(col("src").cast(LongType) + col("dst").cast(LongType), lit(7)) + 1).as("weight"))
        val ue = eb.select(col("src").as("u"))
          .unionByName(eb.select(col("dst").as("u")))
          .groupBy("u").agg(count(lit(1)).as("deg"))
        val source = ue.orderBy(col("deg").desc, col("u").cast(LongType)).limit(1)
          .collect()(0).getString(0)
        GraphAlgorithms.weightedShortestPaths(eb, source, maxHops = 6)
          .orderBy(col("id").cast(LongType))
      },
      Some(s"""WITH RECURSIVE ${TpchBridge.sql.hashGraph},
              |eb AS (SELECT src, dst, (CAST(src AS BIGINT) + CAST(dst AS BIGINT)) % 7 + 1 AS w
              |  FROM hg WHERE CAST(src AS BIGINT) < $strianMaxVertex AND CAST(dst AS BIGINT) < $strianMaxVertex),
              |ue AS (SELECT u, v, MIN(w) AS w FROM (
              |    SELECT src AS u, dst AS v, w FROM eb UNION ALL SELECT dst, src, w FROM eb)
              |  GROUP BY u, v),
              |deg AS (SELECT u, COUNT(*) AS d FROM (
              |    SELECT src AS u FROM eb UNION ALL SELECT dst FROM eb) GROUP BY u),
              |s AS (SELECT u AS sid FROM deg ORDER BY d DESC, CAST(u AS BIGINT) LIMIT 1),
              |walk(id, dist, hops) AS (
              |  SELECT sid, CAST(0 AS BIGINT), 0 FROM s
              |  UNION
              |  SELECT e.v, w.dist + e.w, w.hops + 1 FROM walk w JOIN ue e ON e.u = w.id
              |  WHERE w.hops < 6
              |)
              |SELECT id, MIN(dist) AS dist FROM walk
              |GROUP BY id ORDER BY CAST(id AS BIGINT)""".stripMargin))),

    // Deterministic synchronous label propagation (community detection,
    // parity-plus) over the full hash graph. The oracle replays each
    // round with chained CTEs (the PageRank technique): per-round
    // neighbor-label counts, argmax by (count DESC, label ASC) — the
    // exact tie-break the Spark side encodes as max(struct(c, -label)).
    // Weighted PageRank (parity-plus next to alg_pagerank): rank
    // distributed ∝ integer edge weight on the same capped hash graph
    // as alg_weighted_sp; 4 iterations in EXACT micro-unit integer
    // arithmetic (hash-exact, no round-N float contract needed).
    "alg_weighted_pagerank" -> ((
      (s: SparkSession, d: String) => {
        val eb = TpchBridge.hashGraphEdges(s, d)
          .where(col("src").cast(LongType) < strianMaxVertex &&
            col("dst").cast(LongType) < strianMaxVertex)
          .select(col("src"), col("dst"),
            (pmod(col("src").cast(LongType) + col("dst").cast(LongType), lit(7)) + 1).as("weight"))
        GraphAlgorithms.weightedPageRank(eb, alphaNum = 85, alphaDen = 100,
            iterations = 4)
          .orderBy(col("id").cast(LongType))
      },
      Some(weightedPagerankOracleSql(85, 100, 4)))),

    "alg_label_prop" -> ((
      (s: SparkSession, d: String) =>
        GraphAlgorithms.labelPropagation(TpchBridge.hashGraphEdges(s, d), iterations = 2)
          .orderBy(col("id")),
      Some(lpaOracleSql(2)))),

    // Bounded k-core peeling (k=3, 2 synchronous rounds) over the full
    // hash graph; survivors reported with their induced degree. The
    // oracle replays each round's induced-degree filter as chained CTEs
    // — round semantics (not just the fixpoint) are what's checked.
    "alg_kcore" -> ((
      (s: SparkSession, d: String) =>
        GraphAlgorithms.kCore(TpchBridge.hashGraphEdges(s, d), k = 3, rounds = 2)
          .orderBy(col("id").cast(LongType)),
      Some(kcoreOracleSql(3, 2)))),

    // Per-vertex triangle counts + local clustering coefficient on the
    // vertex-capped hash graph (same cap as strian — the full-graph
    // 3-join cost is already exercised by alg_triangles). Single-SQL
    // oracle: same canonical 3-join, triangles attributed to all three
    // corners, coeff = 2T / d(d-1) rounded to 4.
    "alg_clustering_coeff" -> ((
      (s: SparkSession, d: String) =>
        GraphAlgorithms.clusteringCoefficients(
            TpchBridge.hashGraphEdges(s, d)
              .where(col("src").cast(LongType) < strianMaxVertex &&
                col("dst").cast(LongType) < strianMaxVertex))
          .orderBy(col("id").cast(LongType)),
      Some(coeffOracleSql))),

    // Strongly connected components on a constructed directed graph
    // whose SCCs are relationally known: each region's nations form a
    // directed cycle (ordered by nationkey, last wraps to first) = one SCC
    // per region, plus an ACYCLIC cross-region chain between region
    // minima. Plain connected components would merge everything into one
    // component — a green row proves directed mutual reachability, not
    // mere connectivity. Both engines name a component by its smallest
    // node id.
    "alg_scc" -> ((
      (s: SparkSession, d: String) => {
        import graft.model.PropertyGraph
        val nat = t(s, d, "nation").select(
          concat(lit("nat"), col("n_nationkey")).as("id"),
          col("n_regionkey").as("r"), col("n_nationkey").as("k"))
        val w = Window.partitionBy(col("r")).orderBy(col("k"))
        val cyc = nat.select(col("id").as("src"),
          coalesce(lead(col("id"), 1).over(w), first(col("id")).over(w)).as("dst"))
        val firsts = nat.withColumn("rn", row_number().over(w))
          .where(col("rn") === 1).select(col("r"), col("id").as("fid"))
        val chain = firsts.alias("a").join(firsts.alias("b"),
            col("a.r") + 1 === col("b.r"))
          .select(col("a.fid").as("src"), col("b.fid").as("dst"))
        val edges = cyc.unionByName(chain)
          .select(col("src"), col("dst"), lit("NEXT").as("type"),
            map().cast("map<string,string>").as("properties"))
        val nodes = nat.select(col("id"), lit("Nation").as("label"),
          map().cast("map<string,string>").as("properties"))
        val g = PropertyGraph(nodes, PropertyGraph.withEid(edges), isDirected = true)
        GraphAlgorithms.stronglyConnectedComponents(g)
          .select(col("id"), col("component").as("comp")).orderBy(col("id"))
      },
      Some("""WITH n AS (SELECT 'nat' || n_nationkey AS id, n_regionkey AS r FROM nation),
             |comp AS (SELECT r, MIN(id) AS comp FROM n GROUP BY r)
             |SELECT a.id, c.comp FROM n a JOIN comp c ON a.r = c.r
             |ORDER BY a.id""".stripMargin))))

  /** Per-prefix brute-force triangle recount in DuckDB: prefix p = all
    * batches ≤ p; same canonical-orientation 3-join as the alg_triangles
    * oracle. Batch assignment (s + d) % n is replayable in both engines. */
  private def strianOracleSql: String = {
    val prefixes = (0 until strianBatches).map { p =>
      s"""p$p AS (SELECT s, d FROM eb WHERE b <= $p),
         |t$p AS (SELECT $p AS batch, COUNT(*) AS triangles
         |  FROM p$p e1 JOIN p$p e2 ON e1.d = e2.s
         |  JOIN p$p e3 ON e3.s = e1.s AND e3.d = e2.d)""".stripMargin
    }.mkString(",\n")
    val union = (0 until strianBatches).map(p => s"SELECT * FROM t$p").mkString(" UNION ALL ")
    s"""WITH ${TpchBridge.sql.hashGraph},
       |eb AS (
       |  SELECT CAST(src AS BIGINT) AS s, CAST(dst AS BIGINT) AS d,
       |    (CAST(src AS BIGINT) + CAST(dst AS BIGINT)) % $strianBatches AS b
       |  FROM hg
       |  WHERE CAST(src AS BIGINT) < $strianMaxVertex AND CAST(dst AS BIGINT) < $strianMaxVertex),
       |$prefixes
       |SELECT CAST(batch AS INTEGER) AS batch, triangles FROM ($union) ORDER BY batch""".stripMargin
  }

  /** Chained-CTE replay of deterministic synchronous LPA: per round,
    * count neighbor labels along symmetric edges, argmax by
    * (count DESC, label ASC) via ROW_NUMBER — identical to the Spark
    * side's max(struct(c, -label)); vertices with no winner keep theirs. */
  private def lpaOracleSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""c$i AS (SELECT e.v, l.label, COUNT(*) AS c
         |  FROM e JOIN l${i - 1} l ON l.id = e.u GROUP BY e.v, l.label),
         |b$i AS (SELECT v, label FROM (
         |    SELECT v, label, ROW_NUMBER() OVER (PARTITION BY v ORDER BY c DESC, label) AS rn
         |    FROM c$i) WHERE rn = 1),
         |l$i AS (SELECT l.id, COALESCE(b.label, l.label) AS label
         |  FROM l${i - 1} l LEFT JOIN b$i b ON b.v = l.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${TpchBridge.sql.hashGraph},
       |e0 AS (SELECT CAST(src AS BIGINT) AS u, CAST(dst AS BIGINT) AS v FROM hg),
       |e AS (SELECT u, v FROM (SELECT u, v FROM e0 UNION SELECT v, u FROM e0) WHERE u <> v),
       |l0 AS (SELECT id, id AS label FROM (SELECT u AS id FROM e UNION SELECT v AS id FROM e)),
       |$rounds
       |SELECT id, label FROM l$iters ORDER BY id""".stripMargin
  }

  /** Chained-CTE replay of bounded k-core peeling: round i computes
    * induced degrees over round i-1's survivors and keeps degree >= k;
    * the final row set is the induced degree over the last survivor set
    * (vertices with zero surviving incident edges drop out, exactly as
    * the Spark side's degreesWithin does). String-canonical edge
    * orientation (LEAST/GREATEST on VARCHAR) mirrors
    * PropertyGraph.canonicalUndirected — binary collation both sides. */
  private def kcoreOracleSql(k: Int, rounds: Int,
      withClause: String = TpchBridge.sql.hashGraph, rel: String = "hg",
      orderExpr: String = "CAST(id AS BIGINT)"): String = {
    def degCte(name: String, alive: String): String =
      s"""$name AS (SELECT id, COUNT(*) AS degree FROM (
         |    SELECT e.s AS id FROM cn e
         |      JOIN $alive x ON e.s = x.id JOIN $alive y ON e.d = y.id
         |    UNION ALL
         |    SELECT e.d FROM cn e
         |      JOIN $alive x ON e.s = x.id JOIN $alive y ON e.d = y.id)
         |  GROUP BY id)""".stripMargin
    val chain = (1 to rounds).map { i =>
      s"""${degCte(s"g$i", s"a${i - 1}")},
         |a$i AS (SELECT id FROM g$i WHERE degree >= $k)""".stripMargin
    }.mkString(",\n")
    s"""WITH $withClause,
       |cn AS (SELECT DISTINCT LEAST(src, dst) AS s, GREATEST(src, dst) AS d FROM $rel),
       |a0 AS (SELECT s AS id FROM cn UNION SELECT d FROM cn),
       |$chain,
       |${degCte("gf", s"a$rounds")}
       |SELECT id, degree FROM gf ORDER BY $orderExpr""".stripMargin
  }

  /** alg_ktruss oracle: each synchronous peel round replayed as chained
    * CTEs (canonical triangle enumeration → per-edge support → filter),
    * final support computed on the surviving edge set. Every CTE is
    * MATERIALIZED (DuckDB/Postgres hint): each round references the
    * previous edge set 4× (3 triangle legs + the peel join), so default
    * CTE inlining re-expands the whole chain multiplicatively — >5 min
    * at sf0.01 inlined vs 0.5 s materialized. */
  private def ktrussOracleSql(k: Int, rounds: Int): String = {
    val km2 = k - 2
    def triCte(name: String, src: String): String =
      s"""$name AS MATERIALIZED (SELECT e1.s AS a, e1.d AS b, e2.d AS c
         |  FROM $src e1 JOIN $src e2 ON e1.d = e2.s
         |  JOIN $src e3 ON e3.s = e1.s AND e3.d = e2.d)""".stripMargin
    def supCte(name: String, tri: String): String =
      s"""$name AS MATERIALIZED (SELECT s, d, COUNT(*) AS sup FROM (
         |    SELECT a AS s, b AS d FROM $tri
         |    UNION ALL SELECT b, c FROM $tri
         |    UNION ALL SELECT a, c FROM $tri) GROUP BY s, d)""".stripMargin
    val chain = (1 to rounds).map { i =>
      s"""${triCte(s"tri$i", s"e${i - 1}")},
         |${supCte(s"sup$i", s"tri$i")},
         |e$i AS MATERIALIZED (SELECT e.s, e.d FROM e${i - 1} e
         |  LEFT JOIN sup$i ON e.s = sup$i.s AND e.d = sup$i.d
         |  WHERE COALESCE(sup, 0) >= $km2)""".stripMargin
    }.mkString(",\n")
    s"""WITH eb AS MATERIALIZED (
       |  SELECT CAST(l_orderkey % 600 AS VARCHAR) AS src,
       |    CAST(l_partkey % 600 AS VARCHAR) AS dst
       |  FROM lineitem
       |  WHERE l_orderkey < 15000 AND (l_orderkey + l_partkey) % 7 = 0),
       |cn AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS s, GREATEST(src, dst) AS d
       |  FROM eb WHERE src <> dst),
       |e0 AS MATERIALIZED (SELECT s, d FROM cn),
       |$chain,
       |${triCte("trif", s"e$rounds")},
       |${supCte("supf", "trif")}
       |SELECT e.s AS src, e.d AS dst, COALESCE(sup, 0) AS support
       |FROM e$rounds e LEFT JOIN supf ON e.s = supf.s AND e.d = supf.d
       |ORDER BY CAST(e.s AS BIGINT), CAST(e.d AS BIGINT)""".stripMargin
  }

  /** alg_linkpred oracle: the same wedge-join candidate generation and
    * per-pair aggregates on the capped subgraph — NOT EXISTS replaces the
    * anti-join, float sums round to 6, jaccard stays one exact integer
    * division. */
  private def linkPredOracleSql(minCommon: Long): String =
    s"""WITH eb AS MATERIALIZED (
       |  SELECT CAST(l_orderkey % 600 AS VARCHAR) AS src,
       |    CAST(l_partkey % 600 AS VARCHAR) AS dst
       |  FROM lineitem
       |  WHERE l_orderkey < 15000 AND (l_orderkey + l_partkey) % 7 = 0),
       |cn AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS s, GREATEST(src, dst) AS d
       |  FROM eb WHERE src <> dst),
       |nb AS MATERIALIZED (SELECT s AS w, d AS u FROM cn UNION ALL SELECT d, s FROM cn),
       |dg AS MATERIALIZED (SELECT w, COUNT(*) AS dg FROM nb GROUP BY w),
       |nd AS MATERIALIZED (SELECT nb.w, nb.u, dg.dg FROM nb JOIN dg ON nb.w = dg.w),
       |wedge AS MATERIALIZED (
       |  SELECT a.u AS u, b.u AS v, a.w AS w, a.dg AS dg
       |  FROM nd a JOIN nd b ON a.w = b.w WHERE a.u < b.u),
       |cand AS MATERIALIZED (
       |  SELECT u, v, COUNT(*) AS common,
       |    SUM(1.0 / LN(dg)) AS aa, SUM(1.0 / dg) AS ra
       |  FROM wedge
       |  WHERE NOT EXISTS (SELECT 1 FROM cn WHERE cn.s = wedge.u AND cn.d = wedge.v)
       |  GROUP BY u, v HAVING COUNT(*) >= $minCommon)
       |SELECT c.u, c.v, c.common,
       |  CAST(c.common AS DOUBLE) / CAST(du.dg + dv.dg - c.common AS DOUBLE) AS jaccard,
       |  CAST(ROUND(aa, 6) AS DOUBLE) AS adamic_adar,
       |  CAST(ROUND(ra, 6) AS DOUBLE) AS resource_alloc
       |FROM cand c
       |JOIN dg du ON c.u = du.w
       |JOIN dg dv ON c.v = dv.w
       |ORDER BY CAST(c.u AS BIGINT), CAST(c.v AS BIGINT)""".stripMargin

  /** alg_hits oracle: the hub/auth recurrence unrolled as chained
    * MATERIALIZED CTEs — all-integer arithmetic, so no rounding contract
    * is needed at all. DuckDB's integer SUM returns HUGEINT; cast back to
    * BIGINT to match Spark's long sums. */
  private def hitsOracleSql(iterations: Int): String = {
    val chain = new StringBuilder
    chain.append(
      """e AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
        |ids AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |h0 AS MATERIALIZED (SELECT id, CAST(1 AS BIGINT) AS hub FROM ids)""".stripMargin)
    for (i <- 1 to iterations) {
      chain.append(s""",
        |a$i AS MATERIALIZED (SELECT i.id, CAST(COALESCE(s.x, 0) AS BIGINT) AS auth
        |  FROM ids i LEFT JOIN (
        |    SELECT e.dst AS id, CAST(SUM(h.hub) AS BIGINT) AS x
        |    FROM e JOIN h${i - 1} h ON e.src = h.id GROUP BY e.dst) s
        |  ON i.id = s.id),
        |h$i AS MATERIALIZED (SELECT i.id, CAST(COALESCE(s.x, 0) AS BIGINT) AS hub
        |  FROM ids i LEFT JOIN (
        |    SELECT e.src AS id, CAST(SUM(a.auth) AS BIGINT) AS x
        |    FROM e JOIN a$i a ON e.dst = a.id GROUP BY e.src) s
        |  ON i.id = s.id)""".stripMargin)
    }
    s"WITH ${TpchBridge.sql.nodes},\n${TpchBridge.sql.edges},\n${chain.toString}\n" +
      s"SELECT h.id, h.hub, a.auth FROM h$iterations h JOIN a$iterations a ON h.id = a.id " +
      "ORDER BY h.id"
  }

  /** alg_ppr oracle: [[pageRankOracleSql]] with the uniform teleport
    * replaced by the Nation-node restart indicator — same round-4
    * contract. */
  private def pprOracleSql(alpha: Double, iters: Int): String = {
    val chain = new StringBuilder
    chain.append("outdeg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),\n")
    chain.append("ed AS (SELECT e.src, e.dst, o.d FROM edges e JOIN outdeg o ON e.src = o.src),\n")
    chain.append(
      """base AS (SELECT id, CASE WHEN label = 'Nation' THEN CAST(1.0 AS DOUBLE)
        |  ELSE CAST(0.0 AS DOUBLE) END AS restart FROM nodes),
        |r0 AS (SELECT id, restart AS rank FROM base)""".stripMargin)
    for (i <- 1 to iters) {
      chain.append(s""",
        |r$i AS (SELECT n.id, CAST(${1 - alpha} AS DOUBLE) * n.restart
        |    + CAST($alpha AS DOUBLE) * COALESCE(s.c, 0) AS rank
        |  FROM base n LEFT JOIN (
        |    SELECT ed.dst AS id, SUM(r.rank / ed.d) AS c
        |    FROM ed JOIN r${i - 1} r ON ed.src = r.id GROUP BY ed.dst) s
        |  ON n.id = s.id)""".stripMargin)
    }
    s"WITH ${TpchBridge.sql.nodes},\n${TpchBridge.sql.edges},\n${chain.toString}\n" +
      s"SELECT id, CAST(ROUND(rank, 4) AS DOUBLE) AS rank FROM r$iters ORDER BY id"
  }

  /** alg_weighted_pagerank oracle: the pprOracleSql iteration chain with
    * weight-proportional shares in EXACT micro-unit integer arithmetic —
    * per-edge share r·w // Σw, damping (1−α)·1e6 + α·contrib via the
    * same floor divisions as the Spark side; final double is the exact
    * micro/1e6. */
  private def weightedPagerankOracleSql(alphaNum: Int, alphaDen: Int,
                                        iters: Int): String = {
    val base = 1000000L * (alphaDen - alphaNum) / alphaDen
    val chain = new StringBuilder
    chain.append(
      s"""eb AS (SELECT src, dst,
         |    (CAST(src AS BIGINT) + CAST(dst AS BIGINT)) % 7 + 1 AS w FROM hg
         |  WHERE CAST(src AS BIGINT) < $strianMaxVertex AND CAST(dst AS BIGINT) < $strianMaxVertex),
         |ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wout FROM eb GROUP BY src),
         |ed AS (SELECT e.src, e.dst, e.w, o.wout FROM eb e JOIN ow o ON e.src = o.src),
         |verts AS (SELECT DISTINCT id FROM (
         |  SELECT src AS id FROM eb UNION ALL SELECT dst FROM eb)),
         |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM verts)""".stripMargin)
    for (i <- 1 to iters) {
      chain.append(s""",
        |r$i AS (SELECT v.id, CAST($base + ($alphaNum * COALESCE(s.c, 0)) // $alphaDen AS BIGINT) AS r
        |  FROM verts v LEFT JOIN (
        |    SELECT ed.dst AS id, SUM((r.r * ed.w) // ed.wout) AS c
        |    FROM ed JOIN r${i - 1} r ON ed.src = r.id GROUP BY ed.dst) s
        |  ON v.id = s.id)""".stripMargin)
    }
    s"WITH ${TpchBridge.sql.hashGraph},\n${chain.toString}\n" +
      s"SELECT id, r AS rank_micro, CAST(r AS DOUBLE) / 1000000.0 AS rank " +
      s"FROM r$iters ORDER BY CAST(id AS BIGINT)"
  }

  /** alg_katz oracle: x ← β + α·Aᵀx unrolled as chained CTEs in the
    * weightedPagerank micro-unit discipline — no degree normalization,
    * one floor division per update. */
  private def katzOracleSql(alphaNum: Int, alphaDen: Int, iters: Int): String = {
    val chain = new StringBuilder
    chain.append(
      s"""eb AS (SELECT DISTINCT src, dst FROM hg
         |  WHERE CAST(src AS BIGINT) < $strianMaxVertex
         |    AND CAST(dst AS BIGINT) < $strianMaxVertex AND src <> dst),
         |verts AS (SELECT DISTINCT id FROM (
         |  SELECT src AS id FROM eb UNION ALL SELECT dst FROM eb)),
         |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM verts)""".stripMargin)
    for (i <- 1 to iters) {
      chain.append(s""",
        |r$i AS (SELECT v.id,
        |    CAST(1000000 + ($alphaNum * COALESCE(s.c, 0)) // $alphaDen AS BIGINT) AS r
        |  FROM verts v LEFT JOIN (
        |    SELECT eb.dst AS id, CAST(SUM(r.r) AS BIGINT) AS c
        |    FROM eb JOIN r${i - 1} r ON eb.src = r.id GROUP BY eb.dst) s
        |  ON v.id = s.id)""".stripMargin)
    }
    s"WITH ${TpchBridge.sql.hashGraph},\n${chain.toString}\n" +
      s"SELECT id, r AS katz_micro, CAST(r AS DOUBLE) / 1000000.0 AS katz " +
      s"FROM r$iters ORDER BY CAST(id AS BIGINT)"
  }

  /** Single-SQL mirror of clusteringCoefficients on the vertex-capped
    * hash graph: canonical 3-join enumerates each triangle once,
    * attributed to all three corners; coeff = 2T / d(d-1), 0 when d < 2,
    * rounded to 4 (identical double math both sides). */
  private def coeffOracleSql: String =
    s"""WITH ${TpchBridge.sql.hashGraph},
       |eb AS (SELECT src, dst FROM hg
       |  WHERE CAST(src AS BIGINT) < $strianMaxVertex AND CAST(dst AS BIGINT) < $strianMaxVertex),
       |cn AS (SELECT DISTINCT LEAST(src, dst) AS s, GREATEST(src, dst) AS d FROM eb),
       |deg AS (SELECT id, COUNT(*) AS dg FROM (
       |    SELECT s AS id FROM cn UNION ALL SELECT d FROM cn) GROUP BY id),
       |tri AS (SELECT e1.s AS a, e1.d AS b, e2.d AS c
       |  FROM cn e1 JOIN cn e2 ON e1.d = e2.s
       |  JOIN cn e3 ON e3.s = e1.s AND e3.d = e2.d),
       |pv AS (SELECT id, COUNT(*) AS t FROM (
       |    SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
       |    UNION ALL SELECT c FROM tri) GROUP BY id)
       |SELECT deg.id, COALESCE(pv.t, 0) AS triangles,
       |  CAST(ROUND(CASE WHEN deg.dg < 2 THEN 0
       |    ELSE 2.0 * COALESCE(pv.t, 0) / (deg.dg * (deg.dg - 1.0)) END, 4) AS DOUBLE) AS coeff
       |FROM deg LEFT JOIN pv ON deg.id = pv.id
       |ORDER BY CAST(deg.id AS BIGINT)""".stripMargin

  // ======================================================================
  // Training-data pipeline operators over documents/embeddings
  // ======================================================================

  val pipeline: Map[String, (Q, Option[String])] = Map(
    "doc_exact_dedup" -> ((
      (s: SparkSession, d: String) =>
        Dedup.exact(t(s, d, "documents"), "text", "doc_id").orderBy(col("digest")),
      Some("""SELECT md5(text) AS digest, MIN(doc_id) AS doc_id, COUNT(*) AS dupes
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin))),

    "doc_norm_dedup" -> ((
      (s: SparkSession, d: String) =>
        Dedup.normalizedExact(t(s, d, "documents"), "text", "doc_id").orderBy(col("digest")),
      Some("""SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS digest,
             |MIN(doc_id) AS doc_id, COUNT(*) AS dupes
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin))),

    // Cross-source priority dedup: groups keyed by the 40-char
    // normalized prefix (the templated-document key); each group keeps
    // the doc from the best-ranked source (src1 beats src0 beats the
    // rest), ties to the smallest id — the corpus-union step of a
    // curation pipeline, one shuffle total.
    "doc_priority_dedup" -> ((
      (s: SparkSession, d: String) =>
        Dedup.priorityDedup(t(s, d, "documents"), "doc_id", "source",
            md5(substring(lower(trim(col("text"))), 1, 40)),
            priority = Seq("src1", "src0"))
          .orderBy(col("digest")),
      Some("""WITH ranked AS (
             |  SELECT md5(substr(lower(trim(text)), 1, 40)) AS digest, doc_id, source,
             |    CASE source WHEN 'src1' THEN 0 WHEN 'src0' THEN 1 ELSE 2 END AS r
             |  FROM documents),
             |g AS (SELECT digest, doc_id, source,
             |  ROW_NUMBER() OVER (PARTITION BY digest ORDER BY r, doc_id) AS rn,
             |  COUNT(*) OVER (PARTITION BY digest) AS dupes FROM ranked)
             |SELECT digest, doc_id, source, dupes FROM g WHERE rn = 1
             |ORDER BY digest""".stripMargin))),

    // End-to-end curation composition — the four pipeline stages a real
    // corpus build chains, as ONE declarative plan Catalyst optimizes
    // whole: quality gate (absolute score cut) → normalized exact dedup
    // (keep min-id per digest) → token count → token-budget shard pack.
    // Each stage reuses the already-oracled operator; the oracle chains
    // the same four definitions.
    "doc_curation_e2e" -> ((
      (s: SparkSession, d: String) => {
        val base = t(s, d, "documents")
        // plant exact duplicates (every 7th doc re-id'd) so the dedup
        // stage provably removes rows, and cut at the corpus-median-ish
        // score so the quality gate provably drops rows
        val docs = base.unionByName(
          base.where(pmod(col("doc_id"), lit(7)) === 0)
            .withColumn("doc_id", col("doc_id") + lit(10000L)))
        val q = TextAnalysis.withQuality(docs, "text")
          .where(col("quality_score") >= 0.62)
        val keepIds = Dedup.normalizedExact(q, "text", "doc_id")
          .select(col("doc_id"))
        val toks = q
          .join(keepIds, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), pmod(col("doc_id"), lit(4)).as("shard"),
            TextAnalysis.tokenCount("text").as("tokens"))
        Sampling.packByTokenBudget(toks, "shard", "doc_id", "tokens", budget = 512)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH aug AS MATERIALIZED (
              |  SELECT doc_id, text FROM documents
              |  UNION ALL
              |  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 7 = 0),
              |q AS MATERIALIZED (
              |  SELECT aug.doc_id, aug.text
              |  FROM aug JOIN (${qualityScoreSql("aug")}) qs ON qs.doc_id = aug.doc_id
              |  WHERE qs.quality_score >= 0.62),
              |keep AS MATERIALIZED (
              |  SELECT MIN(doc_id) AS doc_id FROM q
              |  GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))),
              |tk AS (
              |  SELECT q.doc_id, q.doc_id % 4 AS shard,
              |    CAST(CASE WHEN length(trim(q.text)) = 0 THEN 0
              |      ELSE len(regexp_split_to_array(trim(q.text), '\\s+')) END AS INTEGER) AS tokens
              |  FROM q JOIN keep ON keep.doc_id = q.doc_id),
              |p AS (
              |  SELECT doc_id, shard, tokens,
              |    CAST(SUM(tokens) OVER (PARTITION BY shard ORDER BY doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tokens AS BIGINT) AS strt
              |  FROM tk)
              |SELECT doc_id, shard, tokens,
              |  CAST(FLOOR(strt / 512.0) AS BIGINT) AS chunk, strt % 512 AS offset
              |FROM p ORDER BY doc_id""".stripMargin))),

    "doc_langid" -> ((
      (s: SparkSession, d: String) =>
        t(s, d, "documents")
          .select(col("doc_id"), TextAnalysis.langId("text").as("lang"))
          .orderBy(col("doc_id")),
      Some(langIdOracleSql))),

    "doc_token_count" -> ((
      (s: SparkSession, d: String) =>
        t(s, d, "documents")
          .select(col("doc_id"), TextAnalysis.tokenCount("text").as("tokens"),
            length(col("text")).as("chars"))
          .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |CAST(CASE WHEN length(trim(text)) = 0 THEN 0
             |  ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS INTEGER) AS tokens,
             |CAST(length(text) AS INTEGER) AS chars
             |FROM documents ORDER BY doc_id""".stripMargin))),

    // Sequence packing (stream-split at document starts): documents
    // laid into 4096-token training bins in doc_id order — seq_id is
    // an exact integer prefix-sum division, replayed in DuckDB as a
    // window sum (the engine side is Relational.prefixSum: no global
    // Window operator, bounded driver traffic).
    "doc_pack_sequences" -> ((
      (s: SparkSession, d: String) =>
        TextAnalysis.packSequences(t(s, d, "documents"), "doc_id",
            TextAnalysis.tokenCount("text"), budget = 4096L)
          .orderBy(col("doc_id")),
      Some("""WITH tok AS (SELECT doc_id,
             |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
             |    ELSE len(regexp_split_to_array(trim(text), '\s+'))
             |  END AS BIGINT) AS n_tokens FROM documents),
             |cum AS (SELECT doc_id, n_tokens,
             |  SUM(n_tokens) OVER (ORDER BY doc_id
             |    ROWS UNBOUNDED PRECEDING) - n_tokens AS before
             |  FROM tok)
             |SELECT doc_id, n_tokens,
             |  CAST(before // 4096 AS BIGINT) AS seq_id,
             |  CAST(before % 4096 AS BIGINT) AS seq_offset
             |FROM cum ORDER BY doc_id""".stripMargin))),

    // Corpus-trained bigram LM predictability (CCNet-style quality
    // signal as an exact integer ppm contract — see TextAnalysis.lmScore).
    "doc_lm_score" -> ((
      (s: SparkSession, d: String) =>
        TextAnalysis.lmScore(t(s, d, "documents"), "text", "doc_id")
          .orderBy(col("id")),
      Some("""WITH w AS (
             |  SELECT doc_id AS id,
             |    list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))), '\s+'),
             |      x -> len(x) > 0) AS ts
             |  FROM documents),
             |bi AS MATERIALIZED (
             |  SELECT id, ts[CAST(i AS INTEGER)] AS w1,
             |         ts[CAST(i + 1 AS INTEGER)] AS w2
             |  FROM w, UNNEST(range(1, len(ts))) t(i)),
             |cnt AS MATERIALIZED (
             |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM bi GROUP BY 1, 2),
             |marg AS MATERIALIZED (
             |  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM cnt GROUP BY 1),
             |sc AS (
             |  SELECT b.id, (c.c12 * 1000000) // m.c1 AS ppm
             |  FROM bi b JOIN cnt c USING (w1, w2) JOIN marg m ON m.w1 = b.w1),
             |agg AS (
             |  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             |    CAST(SUM(ppm) // COUNT(*) AS BIGINT) AS score_ppm
             |  FROM sc GROUP BY id)
             |SELECT d.doc_id AS id,
             |  COALESCE(a.n_bigrams, 0) AS n_bigrams,
             |  COALESCE(a.score_ppm, 0) AS score_ppm
             |FROM documents d LEFT JOIN agg a ON a.id = d.doc_id
             |ORDER BY id""".stripMargin))),

    "doc_quality" -> ((
      (s: SparkSession, d: String) =>
        TextAnalysis.withQuality(t(s, d, "documents"), "text")
          .select(col("doc_id"), col("alpha_ratio"), col("punct_ratio"),
            col("stopword_ratio"), col("avg_word_len"), col("quality_score"))
          .orderBy(col("doc_id")),
      Some(qualityOracleSql))),

    // Corpus-relative quality cut: keep everything at or above the
    // global 25th percentile of quality_score. The percentile is EXACT
    // at any scale: the score lives on a 1e-6 grid, so selection runs on
    // its bounded histogram (one map-side-combined aggregate + one
    // window over <=1e6 buckets), never a corpus sort.
    "doc_quality_filter" -> ((
      (s: SparkSession, d: String) =>
        TextAnalysis.qualityPercentileFilter(t(s, d, "documents"), "text", "doc_id",
            percentile = 0.25)
          .orderBy(col("doc_id")),
      Some(qualityPercentileOracleSql(0.25)))),

    // Gopher structural/repetition quality rules (Rae et al. 2021 Table
    // A1): per-doc word/length/symbol/bullet/ellipsis/stopword measures
    // as codegen'd columns, duplicate-line character fraction as a
    // linear (id, line)-count aggregate. The oracle replays every rule
    // in DuckDB with list lambdas + a line-unnest CTE.
    "doc_gopher" -> ((
      (s: SparkSession, d: String) =>
        TextAnalysis.gopherQuality(t(s, d, "documents"), "text", "doc_id")
          .orderBy(col("id")),
      Some(gopherOracleSql))),

    // Gopher repetition filters (the gram-shaped Table A1 measures):
    // top-{2,3}-gram character coverage and duplicated-5-gram character
    // coverage per document — one tokenize, window-lead gram assembly,
    // (id, gram) counts, per-id argmax/sum. Oracle replays gram
    // construction with list indexing and the same (c DESC, g) argmax.
    "doc_repetition" -> ((
      (s: SparkSession, d: String) =>
        TextAnalysis.repetitionStats(t(s, d, "documents"), "text", "doc_id",
            topNs = Seq(2, 3), dupNs = Seq(5))
          .orderBy(col("id")),
      Some(repetitionOracleSql(topNs = Seq(2, 3), dupNs = Seq(5))))),

    // Corpus profile grouped by detected language: doc counts, token
    // volume, and mean quality — the summary a pipeline operator reads
    // before deciding filter thresholds. Quality is summed as
    // DECIMAL(18,6) of the per-doc rounded scores so the average is
    // order-insensitive and replays exactly in DuckDB.
    "doc_corpus_stats" -> ((
      (s: SparkSession, d: String) => {
        val q = TextAnalysis.withQuality(t(s, d, "documents"), "text")
        q.select(TextAnalysis.langId("text").as("lang"),
            TextAnalysis.tokenCount("text").cast(LongType).as("tk"),
            col("quality_score"))
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("tk")).as("total_tokens"),
            round(sum(col("tk")).cast(DoubleType) / count(lit(1)), 6).as("avg_tokens"),
            round(sum(col("quality_score").cast("decimal(18,6)")).cast(DoubleType)
              / count(lit(1)), 6).as("avg_quality"))
          .orderBy(col("lang"))
      },
      Some(corpusStatsOracleSql))),

    "doc_fingerprint" -> ((
      (s: SparkSession, d: String) =>
        t(s, d, "documents")
          .select(col("doc_id"), TextAnalysis.fingerprint("text").as("fp"))
          .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |md5(array_to_string(list_sort(list_distinct(
             |  list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> len(x) > 0))), ' ')) AS fp
             |FROM documents ORDER BY doc_id""".stripMargin))),

    // MinHash LSH pairs, oracled against the exact all-pairs ground truth:
    // with 64 hashes / 16 bands at threshold 0.8 the (deterministic,
    // fixed-seed) LSH achieves full recall on this corpus — verified
    // against DuckDB's brute-force jaccard at both sf0.01 and sf0.1.
    "doc_minhash_pairs" -> ((
      (s: SparkSession, d: String) =>
        Dedup.minhashPairs(t(s, d, "documents"), "text", "doc_id", threshold = 0.8)
          .orderBy(col("idA"), col("idB")),
      Some(jaccardGroundTruthSql(charShingle = true, k = 5, threshold = 0.8)))),

    // SimHash token bits come from md5 (replayable in any engine), so the
    // banded pipeline is oracled against a brute-force all-pairs hamming
    // recomputation in DuckDB. Banding is exact for hamming ≤ 3 by
    // pigeonhole over the four 16-bit chunks.
    "doc_simhash_pairs" -> ((
      (s: SparkSession, d: String) =>
        Dedup.simhashPairs(t(s, d, "documents"), "text", "doc_id", maxHamming = 3)
          .orderBy(col("idA"), col("idB")),
      Some(simhashOracleSql(maxHamming = 3)))),

    // Inverted-index n-gram jaccard with the stopword-gram frequency cap
    // engaged: grams in >20 docs are excluded from candidate generation
    // (the Σdf² term), while verification still uses full posting lists so
    // jaccard values stay exact. Recall is unaffected here — verified
    // empirically (0 of 256 true pairs at sf0.1 depend on capped grams;
    // at sf0.01 max df is 7 so the cap filters nothing) and structurally:
    // a pair at jaccard ≥ 0.3 shares many grams, any rare one recovers it.
    "doc_ngram_jaccard" -> ((
      (s: SparkSession, d: String) =>
        Dedup.ngramJaccardPairs(t(s, d, "documents"), "text", "doc_id", n = 3, threshold = 0.3,
          maxDocFreq = 20)
          .orderBy(col("idA"), col("idB")),
      Some(jaccardGroundTruthSql(charShingle = false, k = 3, threshold = 0.3)))),

    // Near-dup CLUSTERS: minhash pair list → connected components via
    // min-label propagation → (member, canonical) per cluster; a corpus
    // compaction keeps canonical == id. Oracled against the exact-jaccard
    // pair list closed transitively with a recursive CTE.
    "doc_dedup_cluster" -> ((
      (s: SparkSession, d: String) =>
        Dedup.nearDupClusters(
          Dedup.minhashPairs(t(s, d, "documents"), "text", "doc_id", threshold = 0.8))
          .orderBy(col("id")),
      Some(clusterOracleSql(k = 5, threshold = 0.8)))),

    // One-call corpus compaction: minhash pairs → clusters → anti-join,
    // keeping cluster canonicals + documents in no pair. The oracle
    // closes the exact-jaccard pair list transitively and removes every
    // non-canonical member.
    "doc_compact" -> ((
      (s: SparkSession, d: String) =>
        Dedup.compact(t(s, d, "documents"), "text", "doc_id", threshold = 0.8)
          .select(col("doc_id"))
          .orderBy(col("doc_id")),
      Some(compactOracleSql(k = 5, threshold = 0.8)))),

    // Keep-best compaction: per near-dup cluster keep the member with
    // the highest token count (tie → smaller id) — the representative
    // policy real pipelines use. Oracle = transitive closure + the same
    // integer argmax.
    "doc_dedup_keep_best" -> ((
      (s: SparkSession, d: String) =>
        Dedup.compactBest(t(s, d, "documents"), "text", "doc_id", threshold = 0.8)
          .select(col("doc_id"))
          .orderBy(col("doc_id")),
      Some(compactBestOracleSql(k = 5, threshold = 0.8)))),

    // PII scrubbing: emails → phones → IPv4 redacted in order (each
    // category counts on the text AFTER the previous redactions), match
    // counts per category. Oracle chains the identical regexes.
    "doc_pii_scrub" -> ((
      (s: SparkSession, d: String) =>
        TextAnalysis.scrubPii(t(s, d, "documents"), "text", "doc_id")
          .orderBy(col("id")),
      Some(piiOracleSql))),

    // Token-budgeted chunking with overlap (pre-training windowing):
    // 32-token windows, 8-token overlap. Oracle replays the window
    // arithmetic with list_slice over the token array.
    "doc_chunk" -> ((
      (s: SparkSession, d: String) =>
        TextAnalysis.chunkTokens(t(s, d, "documents"), "text", "doc_id",
            maxTokens = 32, overlap = 8)
          .orderBy(col("id"), col("chunk_no")),
      Some(chunkOracleSql(maxTokens = 32, overlap = 8)))),

    // Top-3 characteristic terms per document by TF-IDF (tf × ln(N/df)),
    // ranked on the 4-decimal-rounded score so the selection replays
    // identically in engines whose ln() differs in the last ulp.
    "doc_tfidf_topk" -> ((
      (s: SparkSession, d: String) =>
        TextAnalysis.tfIdfTopTerms(t(s, d, "documents"), "text", "doc_id", k = 3)
          .orderBy(col("id"), col("rank")),
      Some(tfidfOracleSql(k = 3)))),

    // BPE tokenizer-vocabulary induction (Sennrich et al. 2016): 12
    // merge rounds over the corpus word table. The merge step is the
    // deterministic "two-pass replace" contract (see BpeVocab scaladoc)
    // so Spark, the adaptive driver path, and the DuckDB oracle replay
    // the identical token stream; the oracle unrolls every round as
    // MATERIALIZED CTEs with the same (total DESC, lhs, rhs) argmax.
    "doc_bpe_vocab" -> ((
      (s: SparkSession, d: String) =>
        BpeVocab.train(t(s, d, "documents"), "text", rounds = 12)
          .orderBy(col("merge_round")),
      Some(BpeVocab.oracleSql(rounds = 12)))),

    // BPE tokenization with the trained vocabulary: the 12 merges apply
    // to the DISTINCT-word table (tokenization = broadcast dictionary
    // join, the corpus is never re-walked per merge); per-document word
    // and BPE-token totals, zero-word documents preserved.
    "doc_bpe_encode" -> ((
      (s: SparkSession, d: String) =>
        BpeVocab.encode(t(s, d, "documents"), "text", "doc_id", rounds = 12)
          .orderBy(col("doc_id")),
      Some(BpeVocab.encodeOracleSql(rounds = 12)))),

    // Benchmark-contamination detection: the eval set is every 37th
    // document; every other document reports the fraction of its distinct
    // word 3-grams that appear anywhere in that set. The oracle replays
    // gram construction and the membership probe on raw gram strings
    // (Spark joins on the 8-byte gram hash — identical counts modulo
    // ~n²/2⁶⁵ xxhash collisions).
    "doc_contamination" -> ((
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        TextAnalysis.contamination(
          docs.where(pmod(col("doc_id"), lit(37)) =!= 0), "text", "doc_id",
          docs.where(pmod(col("doc_id"), lit(37)) === 0), "text", n = 3)
          .orderBy(col("id"))
      },
      Some(contaminationOracleSql(n = 3, modulus = 37)))),

    // FUZZY contamination: cross-corpus banded MinHash between the same
    // %37 corpus/benchmark split — catches paraphrased benchmark leaks
    // that share most shingles without any exact 3-gram run. Oracle is
    // the exact cross-side all-pairs jaccard ground truth (the
    // doc_minhash_pairs full-recall contract at threshold 0.8).
    "doc_fuzzy_contamination" -> ((
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        Dedup.crossMinhashPairs(
          docs.where(pmod(col("doc_id"), lit(37)) =!= 0),
          docs.where(pmod(col("doc_id"), lit(37)) === 0),
          "text", "doc_id", threshold = 0.8)
          .orderBy(col("idA"), col("idB"))
      },
      Some(crossJaccardOracleSql(k = 5, threshold = 0.8, modulus = 37)))),

    // C4 line-level cleaning (terminal punctuation, >=5 words, the
    // javascript/lorem-ipsum/curly-brace rules) with the kept lines
    // re-joined in order — the rebuilt document is oracled verbatim, so
    // the whole keep-predicate chain is hash-checked per line. The
    // single-line fixture docs are FRAMED first (sentence-ish breaks at
    // ' table ', a trailing period, an enable-javascript line, %7 lorem
    // and %11 curly lines) so every rule fires on real rows.
    "doc_c4_filters" -> ((
      (s: SparkSession, d: String) => {
        val framed = t(s, d, "documents").select(col("doc_id"),
          concat(
            call_function("replace", coalesce(col("text"), lit("")),
              lit(" table "), lit(".\ntable ")),
            lit("."),
            lit("\nplease enable javascript to view this page properly."),
            when(pmod(col("doc_id"), lit(7)) === 0,
              lit("\nlorem ipsum dolor sit amet consectetur.")).otherwise(lit("")),
            when(pmod(col("doc_id"), lit(11)) === 0,
              lit("\nfunction f() { return 1; }")).otherwise(lit(""))).as("framed"))
        TextAnalysis.c4Filters(framed, "framed", "doc_id").orderBy(col("id"))
      },
      Some(c4FiltersOracleSql(minLineWords = 5, minKeptLines = 3)))),

    // Line-level dedup (the C4/RefinedWeb boilerplate pass): documents are
    // framed with a corpus-wide header line and an every-other-doc footer
    // line; both exceed the document-frequency threshold and are removed,
    // body lines survive unless the corpus itself repeats them ≥ 5 times.
    "doc_line_dedup" -> ((
      (s: SparkSession, d: String) => {
        val framed = t(s, d, "documents").select(col("doc_id"),
          concat(lit("<<header>>\n"), col("text"),
            when(pmod(col("doc_id"), lit(2)) === 0, lit("\n<<even-footer>>"))
              .otherwise(lit(""))).as("framed"))
        TextAnalysis.lineDedup(framed, "framed", "doc_id", minDocFreq = 5)
          .orderBy(col("id"))
      },
      Some(lineDedupOracleSql(minDocFreq = 5)))),

    // C4 three-sentence-span dedup: docs are framed into sentences
    // (breaks at ' table ') and every doc gets the same 4-sentence
    // boilerplate tail, so its 3-sentence spans repeat corpus-wide —
    // only the globally-first occurrence (min doc, pos) keeps them. The
    // rebuilt text is oracled verbatim.
    "doc_span_dedup" -> ((
      (s: SparkSession, d: String) => {
        val framed = t(s, d, "documents").select(col("doc_id"),
          concat(
            call_function("replace", coalesce(col("text"), lit("")),
              lit(" table "), lit(". table ")),
            lit(". one shared sentence alpha. two shared sentence beta" +
              ". three shared sentence gamma. four shared sentence delta."))
            .as("framed"))
        TextAnalysis.spanDedup(framed, "framed", "doc_id").orderBy(col("id"))
      },
      Some(spanDedupOracleSql))),

    // The driver's embeddings are near-orthogonal random vectors (zero
    // true pairs at cosine ≥ 0.6), so the dedup corpus plants
    // deterministic near-duplicates: every 5th vector re-scaled
    // per-element by 1 ± 0.02 alternating by index (cosine ≈ 0.9998,
    // always ≥ 0.99). The oracle recomputes ALL-PAIRS cosine brute-force
    // in DuckDB — full-recall proof of the banded hyperplane LSH.
    "emb_cosine_dedup" -> ((
      (s: SparkSession, d: String) => {
        val base = t(s, d, "embeddings")
          .select(col("vec_id").as("id"), transform(col("embedding"), _.cast(DoubleType)).as("vec"))
        // planted ids are -(id+1): strictly negative, so they can never
        // collide with real non-negative vec_ids at any scale factor
        // (a fixed +100000 offset would collide once the table exceeds
        // 100k rows, silently corrupting the recall check)
        val planted = base.where(col("id") % 5 === 0)
          .select((-col("id") - 1).as("id"),
            zip_with(col("vec"), sequence(lit(0), size(col("vec")) - 1),
              (x, j) => x * (lit(1.0) + lit(0.02) * (pmod(j, lit(2)) * 2 - 1).cast(DoubleType))).as("vec"))
        Dedup.embeddingCosinePairs(base.unionByName(planted), "vec", "id", threshold = 0.99)
          .orderBy(col("idA"), col("idB"))
      },
      Some(embCosineOracleSql(threshold = 0.99)))),

    // SemDeDup semantic dedup on the planted-duplicate corpus, declared
    // on the PRODUCTION path: k = 0 auto-scales clusters to ⌈√n⌉ and the
    // within-cluster pair join does ~n^1.5 work instead of the n² brute
    // force (the round-9 verdict's one scale-unsafe declared row). The
    // oracle deep-replays the whole deterministic pipeline in DuckDB —
    // smallest-id seeds, two unrolled Lloyd iterations (assign by cosine
    // argmax with cid tie-break, centroid = L2-normalized sum of
    // normalized members, empty clusters keep their previous centroid),
    // final assignment, within-cluster cosine pairs, transitive closure
    // to the min-id canonical (the alg_mst deep-replay discipline).
    // Exact-recall coverage lives in emb_semdedup_exact below.
    "emb_semdedup" -> ((
      (s: SparkSession, d: String) => {
        val base = t(s, d, "embeddings")
          .select(col("vec_id").as("id"), transform(col("embedding"), _.cast(DoubleType)).as("vec"))
        val planted = base.where(col("id") % 5 === 0)
          .select((-col("id") - 1).as("id"),
            zip_with(col("vec"), sequence(lit(0), size(col("vec")) - 1),
              (x, j) => x * (lit(1.0) + lit(0.02) * (pmod(j, lit(2)) * 2 - 1).cast(DoubleType))).as("vec"))
        Dedup.semanticDedup(base.unionByName(planted), "vec", "id",
          k = 0, iters = 2, threshold = 0.99)
          .orderBy(col("id"))
      },
      Some(semDedupBucketedOracleSql(threshold = 0.99)))),

    // Exact-recall twin of emb_semdedup (the alg_knn_ivf
    // exactness-at-full-coverage pattern): k = 1 puts every vector in ONE
    // cluster, so within-cluster pairing IS brute-force all-pairs cosine;
    // the 120-row slice keeps the deliberately-quadratic regime bounded
    // at every scale factor while still proving the bucketed path above
    // loses nothing on the planted duplicates it shares.
    "emb_semdedup_exact" -> ((
      (s: SparkSession, d: String) => {
        val base = t(s, d, "embeddings").where(col("vec_id") < 100)
          .select(col("vec_id").as("id"), transform(col("embedding"), _.cast(DoubleType)).as("vec"))
        val planted = base.where(col("id") % 5 === 0)
          .select((-col("id") - 1).as("id"),
            zip_with(col("vec"), sequence(lit(0), size(col("vec")) - 1),
              (x, j) => x * (lit(1.0) + lit(0.02) * (pmod(j, lit(2)) * 2 - 1).cast(DoubleType))).as("vec"))
        Dedup.semanticDedup(base.unionByName(planted), "vec", "id",
          k = 1, iters = 3, threshold = 0.99)
          .orderBy(col("id"))
      },
      Some(semDedupOracleSql(threshold = 0.99, idCap = Some(100))))),

    // k-NN graph (every vector's top-3 neighbors) in exact mode
    // (clusters = 1 → within-cluster scoring IS all-pairs — the
    // knnIvf exactness-at-full-coverage technique); the clustered scale
    // path is spec-pinned on separated blobs.
    "emb_knn_graph" -> ((
      (s: SparkSession, d: String) =>
        Similarity.knnGraph(
          t(s, d, "embeddings").where(col("vec_id") < 300),
          "vec_id", "embedding", k = 3, clusters = 1)
          .orderBy(col("id"), col("rank")),
      Some("""WITH c AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec
             |  FROM embeddings WHERE vec_id < 300),
             |p AS (SELECT a.id, b.id AS nbr,
             |    list_cosine_similarity(a.vec, b.vec) AS cosine
             |  FROM c a JOIN c b ON a.id <> b.id),
             |r AS (SELECT id, nbr, cosine,
             |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY cosine DESC, nbr) AS rank
             |  FROM p)
             |SELECT id, nbr, CAST(ROUND(cosine, 6) AS DOUBLE) AS cosine,
             |  CAST(rank AS INTEGER) AS rank
             |FROM r WHERE rank <= 3 ORDER BY id, rank""".stripMargin))),

    "kg_construct" -> ((
      (s: SparkSession, d: String) => {
        val g = graft.pipeline.KgConstruction.constructKg(
          t(s, d, "documents"), "text", "doc_id",
          pattern = graft.pipeline.KgConstruction.lexiconPattern)
        g.edges.select(col("src"), col("dst"), col("type")).orderBy(col("src"), col("dst"), col("type"))
      },
      Some(kgConstructOracleSql))),

    "alg_beam_search" -> ((
      (s: SparkSession, d: String) => {
        val nodeEmb = t(s, d, "embeddings")
          .select(col("vec_id").cast(StringType).as("id"),
            transform(col("embedding"), _.cast(DoubleType)).as("vec"))
        val edges = t(s, d, "lineitem").select(
          (col("l_orderkey") % 500).cast(StringType).as("src"),
          (col("l_partkey") % 500).cast(StringType).as("dst")).distinct()
        val q = t(s, d, "embeddings").where(col("vec_id") === 0)
          .select(transform(col("embedding"), _.cast(DoubleType)))
          .collect()(0).getSeq[Double](0).map(_.toFloat)
        Similarity.beamSearch(nodeEmb, "id", "vec", edges, q, beamWidth = 16, hops = 3)
          .select(col("id"), round(col("score"), 6).as("score"), col("hop"))
          .orderBy(col("score").desc, col("id"))
      },
      Some(beamSearchOracleSql(beamWidth = 16, hops = 3)))),

    // Path-scored beam search (the reference's full ScoredPath +
    // typeEmbeddingCache semantics): cumulative score = seed cosine +
    // per-hop (destination cosine + edge-TYPE-embedding cosine); the beam
    // holds paths and is replaced per hop; dead-end paths are emitted at
    // death. Edge types t0..t3 map to embedding rows 10..13, so the
    // type-score table is replayable. Oracle: hop loop unrolled into
    // chained CTEs carrying (path list, sig, score).
    "alg_beam_path" -> ((
      (s: SparkSession, d: String) => {
        val nodeEmb = t(s, d, "embeddings")
          .select(col("vec_id").cast(StringType).as("id"),
            transform(col("embedding"), _.cast(DoubleType)).as("vec"))
        val edges = t(s, d, "lineitem").select(
          (col("l_orderkey") % 500).cast(StringType).as("src"),
          (col("l_partkey") % 500).cast(StringType).as("dst"),
          concat(lit("t"), pmod(col("l_orderkey") + col("l_partkey"), lit(4))).as("type"))
          .distinct()
        val typeEmb = t(s, d, "embeddings")
          .where(col("vec_id") >= 10 && col("vec_id") < 14)
          .select(concat(lit("t"), col("vec_id") - 10).as("type"),
            transform(col("embedding"), _.cast(DoubleType)).as("vec"))
        val q = t(s, d, "embeddings").where(col("vec_id") === 0)
          .select(transform(col("embedding"), _.cast(DoubleType)))
          .collect()(0).getSeq[Double](0).map(_.toFloat)
        Similarity.pathBeamSearch(nodeEmb, "id", "vec", edges, typeEmb, q,
            beamWidth = 8, hops = 3)
          .select(array_join(col("path"), "->").as("path"), col("id"),
            round(col("score"), 6).as("score"), col("hop"))
          .orderBy(col("score").desc, col("path"))
      },
      Some(pathBeamOracleSql(beamWidth = 8, hops = 3)))),

    "mm_frames" -> ((
      (s: SparkSession, d: String) =>
        Multimodal.sampleFrames(
          Multimodal.syntheticAssets(t(s, d, "documents"), "doc_id", "text"))
          .select(col("asset_id"), col("frame_no"), md5(col("frame")).as("frame_digest"))
          .orderBy(col("asset_id"), col("frame_no")),
      Some(mmFramesOracleSql(frameBytes = 256, stride = 4)))),

    "mm_features" -> ((
      (s: SparkSession, d: String) =>
        Multimodal.extractFeatures(
          Multimodal.syntheticAssets(t(s, d, "documents"), "doc_id", "text"))
          .select(col("asset_id"), col("modality"), col("width"), col("height"), col("channels"))
          .orderBy(col("asset_id")),
      Some(mmFeaturesOracleSql))),

    // Nearest-neighbor image resize: synthetic payloads are text (not a
    // parseable codec) so the deterministic stub raster path runs — the
    // real PPM/ImageIO raster paths are exercised by MultimodalSpec with
    // generated PNG/PPM fixtures. Oracle replays the integer floor-sample
    // math over the ASCII payload bytes.
    "mm_resize" -> ((
      (s: SparkSession, d: String) =>
        Multimodal.resizeImages(
          Multimodal.syntheticAssets(t(s, d, "documents"), "doc_id", "text"), 12, 12)
          .select(col("asset_id"), col("src_w"), col("src_h"),
            col("out_w"), col("out_h"), col("channels"), col("pix_sum"))
          .orderBy(col("asset_id")),
      Some(mmResizeOracleSql(12, 12)))),

    // `adgr-cust` ingest: edge-list + vertex-attribute-file upload. Lines
    // are synthesized from nation/region; attribute i lands as property
    // a<i>. Region nodes are absent from the attribute file → NULL lookups.
    "adgr_cust_ingest" -> ((
      (s: SparkSession, d: String) => {
        val edgeLines = t(s, d, "nation").select(concat_ws(" ",
          concat(lit("n"), col("n_nationkey")),
          concat(lit("r"), col("n_regionkey"))).as("value"))
        val attrLines = t(s, d, "nation").select(concat_ws(" ",
          concat(lit("n"), col("n_nationkey")),
          col("n_regionkey"), length(col("n_name"))).as("value"))
        val g = graft.sources.GraphSources.parseEdgeListWithAttributes(
          edgeLines, attrLines, isDirected = true)
        g.nodes.select(col("id"),
          element_at(col("properties"), "a0").as("a0"),
          element_at(col("properties"), "a1").as("a1"))
          .orderBy(col("id"))
      },
      Some("""SELECT 'n' || n_nationkey AS id, CAST(n_regionkey AS VARCHAR) AS a0,
             |  CAST(length(n_name) AS VARCHAR) AS a1 FROM nation
             |UNION ALL
             |SELECT DISTINCT 'r' || r_regionkey, NULL, NULL FROM region
             |ORDER BY id""".stripMargin))),

    // `adstrmkcsv` payload parsing: CSV edge lines through the same
    // record shape and graph derivation as the JSON stream.
    "csv_ingest" -> ((
      (s: SparkSession, d: String) => {
        val lines = t(s, d, "nation").select(concat_ws(",",
          concat(lit("n"), col("n_nationkey")),
          concat(lit("r"), col("n_regionkey")), lit("IN")).as("value"))
        val recs = graft.streaming.EdgeStream.parseCsvEdges(lines)
        graft.sources.GraphSources.fromEdgeRecords(recs, isDirected = true)
          .edges.select(col("src"), col("dst"), col("type"))
          .orderBy(col("src"), col("dst"))
      },
      Some("""SELECT 'n' || n_nationkey AS src, 'r' || n_regionkey AS dst,
             |  'IN' AS type FROM nation ORDER BY src, dst""".stripMargin))),

    // RDF ingest (`adrdf`): N-Triples lines are synthesized from
    // nation⋈region (URIs may contain spaces — TPC-H nation names do),
    // parsed by the columnar triple reader, and returned as the ingested
    // edge list. The oracle rebuilds the same triples relationally.
    // SPARQL over the TPC-H-derived triple store — the reference
    // DECLARES the sparql verb (JasmineGraphFrontEndProtocol.h:59) and
    // ships no handler; here BGPs execute as constant-filtered scans +
    // natural equi-joins (graft.sparql.Sparql).
    "sparql_bgp" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?c ?n ?r WHERE {
            |  ?c <fromNation> ?n .
            |  ?n <locatedIn> ?r .
            |  ?c <segment> "BUILDING" .
            |} ORDER BY ?c LIMIT 200""".stripMargin),
      Some("""WITH fn AS (SELECT 'customer/' || c_custkey AS c, 'nation/' || n_name AS n
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
             |li AS (SELECT 'nation/' || n_name AS n, 'region/' || r_name AS r
             |  FROM nation JOIN region ON n_regionkey = r_regionkey),
             |seg AS (SELECT 'customer/' || c_custkey AS c FROM customer
             |  WHERE c_mktsegment = 'BUILDING')
             |SELECT fn.c, fn.n, li.r FROM fn
             |JOIN li ON fn.n = li.n
             |JOIN seg ON fn.c = seg.c
             |ORDER BY fn.c LIMIT 200""".stripMargin))),

    // SPARQL OPTIONAL (left join) + numeric FILTER + DISTINCT: nations
    // in a key range with their region when one exists, plus the
    // partial bigspender predicate exercising unmatched OPTIONAL rows.
    "sparql_filter_optional" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT DISTINCT ?c ?n ?b WHERE {
            |  ?c <fromNation> ?n .
            |  OPTIONAL { ?c <bigspender> ?b . }
            |  FILTER(?n = "nation/NATION_3" || ?n = "nation/NATION_7")
            |} ORDER BY ?c""".stripMargin),
      Some("""WITH fn AS (SELECT 'customer/' || c_custkey AS c, 'nation/' || n_name AS n
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
             |bs AS (SELECT 'customer/' || c_custkey AS c, '1' AS b FROM customer
             |  WHERE c_acctbal > 9000)
             |SELECT DISTINCT fn.c, fn.n, bs.b FROM fn LEFT JOIN bs ON fn.c = bs.c
             |WHERE fn.n = 'nation/NATION_3' OR fn.n = 'nation/NATION_7'
             |ORDER BY fn.c""".stripMargin))),

    // SPARQL 1.1 aggregate: customers counted per region through the
    // two-hop BGP, grouped and ordered — one grouped count after the
    // equi-join chain.
    "sparql_group_count" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?r (COUNT(?c) AS ?customers) WHERE {
            |  ?c <fromNation> ?n .
            |  ?n <locatedIn> ?r .
            |} GROUP BY ?r ORDER BY ?r""".stripMargin),
      Some("""WITH fn AS (SELECT 'customer/' || c_custkey AS c, 'nation/' || n_name AS n
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
             |li AS (SELECT 'nation/' || n_name AS n, 'region/' || r_name AS r
             |  FROM nation JOIN region ON n_regionkey = r_regionkey)
             |SELECT li.r, CAST(COUNT(fn.c) AS BIGINT) AS customers
             |FROM fn JOIN li ON fn.n = li.n
             |GROUP BY li.r ORDER BY li.r""".stripMargin))),

    // SPARQL UNION: customers and suppliers of EUROPE nations in one
    // result — bag-union of the two branch BGPs joined with the shared
    // location pattern.
    "sparql_union" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?e ?n WHERE {
            |  { ?e <fromNation> ?n . } UNION { ?e <suppliesFrom> ?n . }
            |  ?n <locatedIn> <region/EUROPE> .
            |} ORDER BY ?e LIMIT 150""".stripMargin),
      Some("""WITH fn AS (SELECT 'customer/' || c_custkey AS e, 'nation/' || n_name AS n
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
             |sf AS (SELECT 'supplier/' || s_suppkey AS e, 'nation/' || n_name AS n
             |  FROM supplier JOIN nation ON s_nationkey = n_nationkey),
             |li AS (SELECT 'nation/' || n_name AS n, 'region/' || r_name AS r
             |  FROM nation JOIN region ON n_regionkey = r_regionkey),
             |u AS (SELECT e, n FROM fn UNION ALL SELECT e, n FROM sf)
             |SELECT u.e, u.n FROM u JOIN li ON u.n = li.n
             |WHERE li.r = 'region/EUROPE'
             |ORDER BY u.e LIMIT 150""".stripMargin))),

    // SPARQL 1.1 MINUS (§8.3): EUROPE customers minus the bigspenders —
    // an anti-join on the shared ?c. The disjoint-domain no-op rule and
    // the MINUS-vs-NOT-EXISTS contrast are spec-pinned (CypherSpec).
    "sparql_minus" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?c ?n WHERE {
            |  ?c <fromNation> ?n .
            |  ?n <locatedIn> <region/EUROPE> .
            |  MINUS { ?c <bigspender> "1" . }
            |} ORDER BY ?c LIMIT 150""".stripMargin),
      Some("""WITH fn AS (SELECT 'customer/' || c_custkey AS c, 'nation/' || n_name AS n
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
             |li AS (SELECT 'nation/' || n_name AS n, 'region/' || r_name AS r
             |  FROM nation JOIN region ON n_regionkey = r_regionkey),
             |bs AS (SELECT 'customer/' || c_custkey AS c FROM customer
             |  WHERE c_acctbal > 9000)
             |SELECT fn.c, fn.n FROM fn JOIN li ON fn.n = li.n
             |WHERE li.r = 'region/EUROPE'
             |  AND NOT EXISTS (SELECT 1 FROM bs WHERE bs.c = fn.c)
             |ORDER BY fn.c LIMIT 150""".stripMargin))),

    // SPARQL 1.1 FILTER NOT EXISTS (§8.1.1): customers counted per
    // nation excluding the BUILDING segment — an anti-join on the
    // shared ?c ahead of the grouped count.
    "sparql_not_exists" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?n (COUNT(?c) AS ?nonbuilding) WHERE {
            |  ?c <fromNation> ?n .
            |  FILTER NOT EXISTS { ?c <segment> "BUILDING" . }
            |} GROUP BY ?n ORDER BY ?n""".stripMargin),
      Some("""WITH fn AS (SELECT 'customer/' || c_custkey AS c, 'nation/' || n_name AS n
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
             |bld AS (SELECT 'customer/' || c_custkey AS c FROM customer
             |  WHERE c_mktsegment = 'BUILDING')
             |SELECT fn.n, CAST(COUNT(fn.c) AS BIGINT) AS nonbuilding FROM fn
             |WHERE NOT EXISTS (SELECT 1 FROM bld WHERE bld.c = fn.c)
             |GROUP BY fn.n ORDER BY fn.n""".stripMargin))),

    // SPARQL 1.1 FILTER EXISTS: bigspender customers with their nation —
    // a semi-join on the shared ?c (?b never binds outward).
    "sparql_exists" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?c ?n WHERE {
            |  ?c <fromNation> ?n .
            |  FILTER EXISTS { ?c <bigspender> ?b . }
            |} ORDER BY ?c LIMIT 150""".stripMargin),
      Some("""WITH fn AS (SELECT 'customer/' || c_custkey AS c, 'nation/' || n_name AS n
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
             |bs AS (SELECT 'customer/' || c_custkey AS c FROM customer
             |  WHERE c_acctbal > 9000)
             |SELECT fn.c, fn.n FROM fn
             |WHERE EXISTS (SELECT 1 FROM bs WHERE bs.c = fn.c)
             |ORDER BY fn.c LIMIT 150""".stripMargin))),

    // SPARQL 1.1 aggregate surface beyond COUNT: SUM/AVG over the
    // numeric view of the untyped <key> literal, lexical MIN, and
    // COUNT(DISTINCT). Exactness: the argument is integer-valued, so
    // the double SUM is order-free-exact and AVG is one deterministic
    // IEEE division of exact operands — bit-identical in both engines,
    // no rounding discipline needed.
    "sparql_agg_stats" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?r (SUM(?k) AS ?sumkey) (AVG(?k) AS ?avgkey)
            |  (MIN(?n) AS ?minn) (COUNT(DISTINCT ?n) AS ?nations)
            |WHERE {
            |  ?n <locatedIn> ?r .
            |  ?n <key> ?k .
            |} GROUP BY ?r ORDER BY ?r""".stripMargin),
      Some("""WITH li AS (SELECT 'nation/' || n_name AS n,
             |    'region/' || r_name AS r, n_nationkey AS k
             |  FROM nation JOIN region ON n_regionkey = r_regionkey)
             |SELECT r, SUM(CAST(k AS DOUBLE)) AS sumkey,
             |  AVG(CAST(k AS DOUBLE)) AS avgkey, MIN(n) AS minn,
             |  CAST(COUNT(DISTINCT n) AS BIGINT) AS nations
             |FROM li GROUP BY r ORDER BY r""".stripMargin))),

    // SPARQL 1.1 VALUES + OFFSET: an inline binding table constrains
    // ?n via a broadcast join against the BGP, and the ordered result
    // is paged. ?c is unique per solution, so the page is deterministic.
    "sparql_values_page" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?c ?n WHERE {
            |  ?c <fromNation> ?n .
            |  VALUES ?n { "nation/NATION_3" "nation/NATION_7" "nation/NATION_12" }
            |} ORDER BY ?c OFFSET 20 LIMIT 60""".stripMargin),
      Some("""WITH fn AS (SELECT 'customer/' || c_custkey AS c, 'nation/' || n_name AS n
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey)
             |SELECT c, n FROM fn
             |WHERE n IN ('nation/NATION_3', 'nation/NATION_7', 'nation/NATION_12')
             |ORDER BY c LIMIT 60 OFFSET 20""".stripMargin))),

    // GCN forward pass (engine-side `predict`): one mean-aggregation
    // convolution over the nation–region bipartite graph with
    // power-of-two weights. Bit-exact replay: feature sums are
    // integer-valued doubles (exact, order-free), ONE division by the
    // neighbor count, dyadic-rational weight multiplies (exponent
    // shifts), one fixed-order addition per output — no rounding
    // discipline needed anywhere.
    "ml_gcn_forward" -> ((
      (s: SparkSession, d: String) => {
        val n = t(s, d, "nation"); val r = t(s, d, "region")
        val e0 = n.select(concat(lit("n"), col("n_nationkey")).as("src"),
          concat(lit("r"), col("n_regionkey")).as("dst"))
        val edges = e0.unionByName(
          e0.select(col("dst").as("src"), col("src").as("dst")))
        val feats = n.select(concat(lit("n"), col("n_nationkey")).as("id"),
            col("n_nationkey").cast("double").as("f0"),
            col("n_regionkey").cast("double").as("f1"))
          .unionByName(r.select(concat(lit("r"), col("r_regionkey")).as("id"),
            (col("r_regionkey") + 100).cast("double").as("f0"),
            lit(0.0).as("f1")))
        graft.ml.Gcn.layer(edges, feats, "id", Seq("f0", "f1"),
            Array(Array(0.5, -0.25), Array(0.125, 1.0)))
          .orderBy(col("id"))
      },
      Some("""WITH e0 AS (SELECT 'n' || n_nationkey AS src, 'r' || n_regionkey AS dst
             |  FROM nation),
             |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
             |f AS (SELECT 'n' || n_nationkey AS id, CAST(n_nationkey AS DOUBLE) AS f0,
             |    CAST(n_regionkey AS DOUBLE) AS f1 FROM nation
             |  UNION ALL
             |  SELECT 'r' || r_regionkey, CAST(r_regionkey + 100 AS DOUBLE), 0.0
             |  FROM region),
             |m AS (SELECT e.dst AS id, f.f0, f.f1 FROM e JOIN f ON e.src = f.id
             |  UNION ALL SELECT id, f0, f1 FROM f),
             |s AS (SELECT id, COUNT(*) AS n, SUM(f0) AS s0, SUM(f1) AS s1
             |  FROM m GROUP BY id),
             |mm AS (SELECT id, s0 / n AS m0, s1 / n AS m1 FROM s)
             |SELECT id, greatest(0, m0 * 0.5 + m1 * 0.125) AS h0,
             |  greatest(0, m0 * -0.25 + m1 * 1.0) AS h1
             |FROM mm ORDER BY id""".stripMargin))),

    // Link-prediction TRAINING (engine-side `train`): GCN embeddings
    // over the customer–nation graph, deterministic rotation negatives,
    // Hadamard edge features, and 4 full-batch logistic-GD iterations —
    // each ONE map-side-combinable aggregation; the driver holds only
    // the 3-vector of weights. The oracle deep-replays the ENTIRE
    // pipeline (GCN layer, Knuth-hash rotation, unrolled GD) in DuckDB;
    // scores rounded to 6 decimals absorb cross-engine summation-order
    // and exp-ulp drift (~1e-13, far inside the rounding granule).
    "ml_train_linkpred" -> ((
      (s: SparkSession, d: String) => {
        val c = t(s, d, "customer"); val n = t(s, d, "nation")
        val pos = c.select(concat(lit("c"), col("c_custkey")).as("src"),
          concat(lit("n"), col("c_nationkey")).as("dst"),
          col("c_custkey").cast("long").as("hk"))
        val e0 = pos.select(col("src"), col("dst"))
        val edges = e0.unionByName(
          e0.select(col("dst").as("src"), col("src").as("dst")))
        val feats = c.select(concat(lit("c"), col("c_custkey")).as("id"),
            (col("c_custkey") % 8).cast("double").as("f0"),
            col("c_nationkey").cast("double").as("f1"))
          .unionByName(n.select(concat(lit("n"), col("n_nationkey")).as("id"),
            col("n_nationkey").cast("double").as("f0"),
            col("n_regionkey").cast("double").as("f1")))
        val emb = graft.ml.Gcn.layer(edges, feats, "id", Seq("f0", "f1"),
          Array(Array(0.5, -0.25), Array(0.125, 1.0)))
        val neg = graft.ml.LinkPrediction
          .rotationNegatives(pos, "src", "dst", "hk")
        val pairs = pos.select(col("src"), col("dst"), lit(1).as("label"))
          .unionByName(neg.select(col("src"), col("dst"), lit(0).as("label")))
        val ex = graft.ml.LinkPrediction
          .edgeFeatures(pairs, emb, "id", Seq("h0", "h1"))
          .withColumn("x0", col("x0") / 64)
          .withColumn("x1", col("x1") / 64)
        val w = graft.ml.LinkPrediction.trainLogistic(
          ex, Seq("x0", "x1"), "label", iters = 4, lr = 0.5)
        ex.select(col("src"), col("dst"), col("label"),
            round(graft.ml.LinkPrediction.scoreColumn(Seq("x0", "x1"), w), 6)
              .as("score"))
          .orderBy(col("src"), col("dst"))
      },
      Some(linkpredTrainOracleSql(iters = 4)))),

    // FEDERATED link-prediction training (the reference's fl_server /
    // fl_client FedAvg orchestration, fl_server.py:85-105): 3 "workers"
    // = hk % 3 partitions, 2 rounds × 2 local epochs, FedAvg weighted
    // by per-worker example count. The oracle unrolls the full
    // federation schedule — per-worker GD epochs as part-keyed CTE
    // joins, the weighted average at each round boundary — and scores
    // every example with the final global model (round-6 replay).
    "ml_fed_train_linkpred" -> ((
      (s: SparkSession, d: String) => {
        val c = t(s, d, "customer"); val n = t(s, d, "nation")
        val pos = c.select(concat(lit("c"), col("c_custkey")).as("src"),
          concat(lit("n"), col("c_nationkey")).as("dst"),
          col("c_custkey").cast("long").as("hk"))
        val e0 = pos.select(col("src"), col("dst"))
        val edges = e0.unionByName(
          e0.select(col("dst").as("src"), col("src").as("dst")))
        val feats = c.select(concat(lit("c"), col("c_custkey")).as("id"),
            (col("c_custkey") % 8).cast("double").as("f0"),
            col("c_nationkey").cast("double").as("f1"))
          .unionByName(n.select(concat(lit("n"), col("n_nationkey")).as("id"),
            col("n_nationkey").cast("double").as("f0"),
            col("n_regionkey").cast("double").as("f1")))
        val emb = graft.ml.Gcn.layer(edges, feats, "id", Seq("f0", "f1"),
          Array(Array(0.5, -0.25), Array(0.125, 1.0)))
        val neg = graft.ml.LinkPrediction
          .rotationNegatives(pos, "src", "dst", "hk")
          .join(pos.select(col("src"), col("hk")), Seq("src"))
        val pairs = pos
          .select(col("src"), col("dst"), lit(1).as("label"), col("hk"))
          .unionByName(
            neg.select(col("src"), col("dst"), lit(0).as("label"), col("hk")))
        val ex = graft.ml.LinkPrediction
          .edgeFeatures(pairs, emb, "id", Seq("h0", "h1"))
          .withColumn("x0", col("x0") / 64)
          .withColumn("x1", col("x1") / 64)
          .withColumn("part", col("hk") % 3)
        val w = graft.ml.LinkPrediction.trainFederated(
          ex, Seq("x0", "x1"), "label", "part",
          rounds = 2, localEpochs = 2, lr = 0.5)
        ex.select(col("src"), col("dst"), col("label"),
            round(graft.ml.LinkPrediction.scoreColumn(Seq("x0", "x1"), w), 6)
              .as("score"))
          .orderBy(col("src"), col("dst"))
      },
      Some(linkpredFedOracleSql(rounds = 2, epochs = 2)))),

    // Link-prediction EVALUATION (the reference's `evaluate()` metric
    // log: accuracy/recall/AUC/F1/precision, supervised.py:195-207):
    // deterministic 90/10 split on the customer key, train on the 90%,
    // score the held-out 10% (rounded to 6 so both engines tie
    // identically), then threshold metrics + exact Mann–Whitney AUC via
    // average ranks. All metric arithmetic is sums of exactly-
    // representable doubles + single divisions — replay-exact.
    "ml_eval_linkpred" -> ((
      (s: SparkSession, d: String) => {
        val c = t(s, d, "customer"); val n = t(s, d, "nation")
        val pos = c.select(concat(lit("c"), col("c_custkey")).as("src"),
          concat(lit("n"), col("c_nationkey")).as("dst"),
          col("c_custkey").cast("long").as("hk"))
        val e0 = pos.select(col("src"), col("dst"))
        val edges = e0.unionByName(
          e0.select(col("dst").as("src"), col("src").as("dst")))
        val feats = c.select(concat(lit("c"), col("c_custkey")).as("id"),
            (col("c_custkey") % 8).cast("double").as("f0"),
            col("c_nationkey").cast("double").as("f1"))
          .unionByName(n.select(concat(lit("n"), col("n_nationkey")).as("id"),
            col("n_nationkey").cast("double").as("f0"),
            col("n_regionkey").cast("double").as("f1")))
        val emb = graft.ml.Gcn.layer(edges, feats, "id", Seq("f0", "f1"),
          Array(Array(0.5, -0.25), Array(0.125, 1.0)))
        val neg = graft.ml.LinkPrediction
          .rotationNegatives(pos, "src", "dst", "hk")
          .join(pos.select(col("src"), col("hk")), Seq("src"))
        val pairs = pos
          .select(col("src"), col("dst"), lit(1).as("label"), col("hk"))
          .unionByName(
            neg.select(col("src"), col("dst"), lit(0).as("label"), col("hk")))
        val ex = graft.ml.LinkPrediction
          .edgeFeatures(pairs, emb, "id", Seq("h0", "h1"))
          .withColumn("x0", col("x0") / 64)
          .withColumn("x1", col("x1") / 64)
        val train = ex.where(col("hk") % 10 =!= 0)
        val test = ex.where(col("hk") % 10 === 0)
        val w = graft.ml.LinkPrediction.trainLogistic(
          train, Seq("x0", "x1"), "label", iters = 4, lr = 0.5)
        val scoredTest = test.withColumn("score",
          round(graft.ml.LinkPrediction.scoreColumn(Seq("x0", "x1"), w), 6))
        graft.ml.LinkPrediction.evaluate(scoredTest, "score", "label")
          .select(round(col("accuracy"), 6).as("accuracy"),
            round(col("precision"), 6).as("precision"),
            round(col("recall"), 6).as("recall"),
            round(col("f1"), 6).as("f1"),
            round(col("auc"), 6).as("auc"))
      },
      Some(linkpredEvalOracleSql(iters = 4)))),

    // SPARQL 1.1 property path — sequence: the two-hop BGP collapses to
    // one `<fromNation>/<locatedIn>` path (parse-time rewrite through a
    // non-projectable intermediate; Catalyst plans the identical join
    // chain as sparql_bgp).
    "sparql_path_seq" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?c ?r WHERE {
            |  ?c <fromNation>/<locatedIn> ?r .
            |  ?c <segment> "BUILDING" .
            |} ORDER BY ?c LIMIT 200""".stripMargin),
      Some("""WITH fn AS (SELECT 'customer/' || c_custkey AS c, 'nation/' || n_name AS n
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
             |li AS (SELECT 'nation/' || n_name AS n, 'region/' || r_name AS r
             |  FROM nation JOIN region ON n_regionkey = r_regionkey),
             |seg AS (SELECT 'customer/' || c_custkey AS c FROM customer
             |  WHERE c_mktsegment = 'BUILDING')
             |SELECT fn.c, li.r FROM fn
             |JOIN li ON fn.n = li.n
             |JOIN seg ON fn.c = seg.c
             |ORDER BY fn.c LIMIT 200""".stripMargin))),

    // SPARQL 1.1 property path — inverse: `?n ^<fromNation> ?c` flips
    // the scan orientation at parse time (≡ `?c <fromNation> ?n`), and
    // the `a` rdf:type keyword gates on the typed customers.
    "sparql_path_inverse" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?n ?c WHERE {
            |  ?n ^<fromNation> ?c .
            |  ?c a <Customer> .
            |  ?n <locatedIn> <region/EUROPE> .
            |} ORDER BY ?c LIMIT 150""".stripMargin),
      Some("""WITH fn AS (SELECT 'customer/' || c_custkey AS c, 'nation/' || n_name AS n
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
             |li AS (SELECT 'nation/' || n_name AS n, 'region/' || r_name AS r
             |  FROM nation JOIN region ON n_regionkey = r_regionkey)
             |SELECT fn.n, fn.c FROM fn JOIN li ON fn.n = li.n
             |WHERE li.r = 'region/EUROPE'
             |ORDER BY fn.c LIMIT 150""".stripMargin))),

    // SPARQL ASK: boolean existence of a building-segment big spender.
    // SPARQL 1.1 Kleene path over an alternation set — `+` on
    // (fromNation|locatedIn) closes customer→nation→region
    // transitively. Var–var shape → the engine's semi-naive pair
    // closure; the oracle is the equivalent recursive CTE (UNION =
    // DISTINCT fixpoint, the §18.4 set semantics).
    "sparql_path_plus" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?c ?dest WHERE {
            |  ?c <segment> "MACHINERY" .
            |  ?c (<fromNation>|<locatedIn>)+ ?dest .
            |} ORDER BY ?c ?dest""".stripMargin),
      Some("""WITH RECURSIVE ed AS (
             |  SELECT DISTINCT a, b FROM (
             |    SELECT 'customer/' || c_custkey AS a, 'nation/' || n_name AS b
             |    FROM customer JOIN nation ON c_nationkey = n_nationkey
             |    UNION ALL
             |    SELECT 'nation/' || n_name, 'region/' || r_name
             |    FROM nation JOIN region ON n_regionkey = r_regionkey)),
             |reach(a, b) AS (
             |  SELECT a, b FROM ed
             |  UNION
             |  SELECT r.a, ed.b FROM reach r JOIN ed ON r.b = ed.a),
             |seg AS (SELECT 'customer/' || c_custkey AS c FROM customer
             |  WHERE c_mktsegment = 'MACHINERY')
             |SELECT seg.c, reach.b AS dest
             |FROM seg JOIN reach ON reach.a = seg.c
             |ORDER BY seg.c, reach.b""".stripMargin))),

    // SPARQL 1.1 `p*` seeded by a constant subject — the BFS regime
    // (reachable SET, no pair closure) plus the zero-length
    // self-binding the `*` semantics require.
    "sparql_path_star" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?x WHERE { <nation/NATION_7> <locatedIn>* ?x . }
            |ORDER BY ?x""".stripMargin),
      Some("""WITH RECURSIVE li AS (
             |  SELECT DISTINCT 'nation/' || n_name AS a, 'region/' || r_name AS b
             |  FROM nation JOIN region ON n_regionkey = r_regionkey),
             |reach(x) AS (
             |  SELECT 'nation/NATION_7'
             |  UNION
             |  SELECT li.b FROM reach r JOIN li ON li.a = r.x)
             |SELECT x FROM reach ORDER BY x""".stripMargin))),

    "sparql_ask" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """ASK WHERE { ?c <segment> "BUILDING" . ?c <bigspender> ?b . }"""),
      Some("""SELECT EXISTS(
             |  SELECT 1 FROM customer
             |  WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9000) AS ask""".stripMargin))),

    // SPARQL CONSTRUCT: derive (customer, locatedInRegion, region)
    // triples from the two-hop BGP — the result graph is a SET.
    "sparql_construct" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """CONSTRUCT { ?c <locatedInRegion> ?r . } WHERE {
            |  ?c <fromNation> ?n .
            |  ?n <locatedIn> ?r .
            |}""".stripMargin)
          .orderBy(col("s"), col("o")),
      Some("""SELECT DISTINCT 'customer/' || c_custkey AS s,
             |  'locatedInRegion' AS p, 'region/' || r_name AS o
             |FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |ORDER BY s, o""".stripMargin))),

    // CONSTRUCT with a blank-node template (`_:st`): each solution
    // instantiates one fresh node shared across the template's three
    // triples — skolemized as _:label-md5(solution binding) so the
    // "fresh per solution, shared within it" contract replays exactly
    // (the oracle recomputes the same md5 over the same sorted
    // null-marked -joined binding).
    "sparql_construct_bnode" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """CONSTRUCT { ?n <hasStats> _:st . _:st <inRegion> ?r . _:st <natKey> ?k . }
            |WHERE { ?n <locatedIn> ?r . ?n <key> ?k . }""".stripMargin)
          .orderBy(col("s"), col("p"), col("o")),
      Some("""WITH li AS (SELECT 'nation/' || n_name AS n,
             |    'region/' || r_name AS r, CAST(n_nationkey AS VARCHAR) AS k
             |  FROM nation JOIN region ON n_regionkey = r_regionkey),
             |sk AS (SELECT n, r, k,
             |    '_:st-' || md5(k || chr(1) || n || chr(1) || r) AS b FROM li)
             |SELECT DISTINCT s, p, o FROM (
             |  SELECT n AS s, 'hasStats' AS p, b AS o FROM sk
             |  UNION ALL SELECT b, 'inRegion', r FROM sk
             |  UNION ALL SELECT b, 'natKey', k FROM sk)
             |ORDER BY s, p, o""".stripMargin))),

    // SPARQL 1.1 §10.1 BIND + §17 expressions: an arithmetic alias
    // (numeric view via try_cast — error = unbound) and a string alias
    // built from LCASE/SUBSTR/STR/CONCAT, both created by withColumn
    // on the solution frame (pure codegen'd projections, no shuffle).
    "sparql_bind" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?n ?tag ?k2 WHERE {
            |  ?n <locatedIn> ?r .
            |  ?n <key> ?k .
            |  BIND(?k * 2 + 1 AS ?k2)
            |  BIND(CONCAT(LCASE(SUBSTR(?r, 8, 3)), "/", STR(?k)) AS ?tag)
            |} ORDER BY ?n""".stripMargin),
      Some("""WITH li AS (SELECT 'nation/' || n_name AS n,
             |    'region/' || r_name AS r, n_nationkey AS k
             |  FROM nation JOIN region ON n_regionkey = r_regionkey)
             |SELECT n, lower(substr(r, 8, 3)) || '/' || CAST(k AS VARCHAR) AS tag,
             |  CAST(k * 2 + 1 AS DOUBLE) AS k2
             |FROM li ORDER BY n""".stripMargin))),

    // SPARQL §17.4 boolean builtins: REGEX with the "i" flag,
    // STRSTARTS/CONTAINS on the segment, and !BOUND over an OPTIONAL
    // (the unmatched-left-join-null reading of unbound).
    "sparql_regex" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?c ?n WHERE {
            |  ?c <fromNation> ?n .
            |  ?c <segment> ?s .
            |  OPTIONAL { ?c <bigspender> ?b . }
            |  FILTER(REGEX(?n, "nation_1[0-9]$", "i") && STRSTARTS(?s, "BUI")
            |    && CONTAINS(?s, "ING") && !BOUND(?b))
            |} ORDER BY ?c""".stripMargin),
      Some("""WITH fn AS (SELECT 'customer/' || c_custkey AS c, 'nation/' || n_name AS n
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
             |seg AS (SELECT 'customer/' || c_custkey AS c, c_mktsegment AS s FROM customer),
             |bs AS (SELECT 'customer/' || c_custkey AS c FROM customer WHERE c_acctbal > 9000)
             |SELECT fn.c, fn.n FROM fn JOIN seg ON fn.c = seg.c
             |LEFT JOIN bs ON fn.c = bs.c
             |WHERE regexp_matches(fn.n, '(?i)nation_1[0-9]$')
             |  AND seg.s LIKE 'BUI%' AND seg.s LIKE '%ING%' AND bs.c IS NULL
             |ORDER BY fn.c""".stripMargin))),

    // SPARQL §17.4.1.9 NOT IN: constant-list exclusion compiled to a
    // codegen'd NOT-isin under the grouped count.
    "sparql_in" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?n (COUNT(?c) AS ?customers) WHERE {
            |  ?c <fromNation> ?n .
            |  ?c <segment> ?s .
            |  FILTER(?s NOT IN ("BUILDING", "AUTOMOBILE"))
            |} GROUP BY ?n ORDER BY ?n""".stripMargin),
      Some("""SELECT 'nation/' || n_name AS n,
             |  CAST(count(*) AS BIGINT) AS customers
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |WHERE c_mktsegment NOT IN ('BUILDING', 'AUTOMOBILE')
             |GROUP BY 1 ORDER BY n""".stripMargin))),

    // SPARQL 1.1 §9.1 negated property set !(p1|…): one NOT-isin scan
    // filter on the predicate column — what survives is locatedIn and
    // suppliesFrom (`a` = the rdf:type keyword, legal in the set).
    "sparql_negated_path" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?s ?o WHERE {
            |  ?s !(<fromNation>|<segment>|<key>|<bigspender>|a) ?o .
            |} ORDER BY ?s ?o""".stripMargin),
      Some("""SELECT * FROM (
             |  SELECT 'nation/' || n_name AS s, 'region/' || r_name AS o
             |  FROM nation JOIN region ON n_regionkey = r_regionkey
             |  UNION ALL
             |  SELECT 'supplier/' || s_suppkey, 'nation/' || n_name
             |  FROM supplier JOIN nation ON s_nationkey = n_nationkey)
             |ORDER BY s, o""".stripMargin))),

    // SPARQL 1.1 §16.4 DESCRIBE ?var WHERE: resources resolved from the
    // WHERE solutions, then ONE broadcast semi-join sweep of the triple
    // store for every triple touching them (symmetric CBD-lite).
    "sparql_describe" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """DESCRIBE ?n WHERE { ?n <key> "7" . }""")
          .orderBy(col("s"), col("p"), col("o")),
      Some("""WITH res AS (SELECT 'nation/' || n_name AS r FROM nation
             |  WHERE n_nationkey = 7),
             |tri AS (
             |  SELECT 'customer/' || c_custkey AS s, 'fromNation' AS p,
             |    'nation/' || n_name AS o
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey
             |  UNION ALL SELECT 'nation/' || n_name, 'locatedIn', 'region/' || r_name
             |  FROM nation JOIN region ON n_regionkey = r_regionkey
             |  UNION ALL SELECT 'nation/' || n_name, 'key', CAST(n_nationkey AS VARCHAR)
             |  FROM nation
             |  UNION ALL SELECT 'supplier/' || s_suppkey, 'suppliesFrom', 'nation/' || n_name
             |  FROM supplier JOIN nation ON s_nationkey = n_nationkey)
             |SELECT DISTINCT t.s, t.p, t.o
             |FROM tri t JOIN res ON t.s = res.r OR t.o = res.r
             |ORDER BY s, p, o""".stripMargin))),

    // SPARQL 1.1 §11.1 GROUP_CONCAT (explicit separator, SORTED value
    // order — the engine pins what the spec leaves open) + SAMPLE
    // (pinned to MIN) over the nations-per-region grouping.
    "sparql_group_concat" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?r (GROUP_CONCAT(?n ; SEPARATOR=",") AS ?nations)
            |  (SAMPLE(?n) AS ?first) WHERE {
            |  ?n <locatedIn> ?r .
            |} GROUP BY ?r ORDER BY ?r""".stripMargin),
      Some("""SELECT 'region/' || r_name AS r,
             |  string_agg('nation/' || n_name, ',' ORDER BY 'nation/' || n_name)
             |    AS nations,
             |  min('nation/' || n_name) AS first
             |FROM nation JOIN region ON n_regionkey = r_regionkey
             |GROUP BY 1 ORDER BY r""".stripMargin))),

    // SPARQL 1.1 §7 HAVING: aggregate-alias filter after the grouped
    // count — a plain WHERE over the aggregated frame in Spark.
    "sparql_having" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?n (COUNT(?c) AS ?cnt) WHERE {
            |  ?c <fromNation> ?n .
            |} GROUP BY ?n HAVING (?cnt >= 30) ORDER BY ?n""".stripMargin),
      Some("""SELECT 'nation/' || n_name AS n,
             |  CAST(count(*) AS BIGINT) AS cnt
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY 1 HAVING count(*) >= 30 ORDER BY n""".stripMargin))),

    // §17.4.3.7-8 STRBEFORE/STRAFTER and the §17.4.4 numeric builtins
    // (ABS/FLOOR on the try_cast numeric view) as BIND projections.
    "sparql_str_fns" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?n ?name ?pre ?kr ?d WHERE {
            |  ?n <key> ?k .
            |  BIND(STRAFTER(?n, "/") AS ?name)
            |  BIND(STRBEFORE(?n, "/") AS ?pre)
            |  BIND(FLOOR(?k / 10) AS ?kr)
            |  BIND(ABS(?k - 12) AS ?d)
            |} ORDER BY ?n""".stripMargin),
      Some("""SELECT 'nation/' || n_name AS n,
             |  n_name AS name, 'nation' AS pre,
             |  CAST(floor(n_nationkey / 10.0) AS DOUBLE) AS kr,
             |  CAST(abs(n_nationkey - 12) AS DOUBLE) AS d
             |FROM nation ORDER BY n""".stripMargin))),

    // §9.1 negated set with an INVERSE member: !(…|^suppliesFrom) is
    // the union of the forward NOT-isin scan and the endpoint-swapped
    // inverse NOT-isin scan — the oracle replays both halves.
    "sparql_negated_inverse" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?x ?y WHERE {
            |  ?x !(<fromNation>|<segment>|<key>|<bigspender>|a|^<suppliesFrom>) ?y .
            |} ORDER BY ?x ?y""".stripMargin),
      Some("""SELECT * FROM (
             |  SELECT 'nation/' || n_name AS x, 'region/' || r_name AS y
             |  FROM nation JOIN region ON n_regionkey = r_regionkey
             |  UNION ALL
             |  SELECT 'supplier/' || s_suppkey, 'nation/' || n_name
             |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
             |  UNION ALL
             |  SELECT 'nation/' || n_name, 'customer/' || c_custkey
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey
             |  UNION ALL
             |  SELECT 'region/' || r_name, 'nation/' || n_name
             |  FROM nation JOIN region ON n_regionkey = r_regionkey
             |  UNION ALL
             |  SELECT c_mktsegment, 'customer/' || c_custkey FROM customer
             |  UNION ALL
             |  SELECT CAST(n_nationkey AS VARCHAR), 'nation/' || n_name FROM nation
             |  UNION ALL
             |  SELECT '1', 'customer/' || c_custkey FROM customer
             |  WHERE c_acctbal > 9000
             |  UNION ALL
             |  SELECT 'Customer', 'customer/' || c_custkey FROM customer)
             |ORDER BY x, y""".stripMargin))),

    // SPARQL 1.1 §12 sub-SELECT: the classic per-group-max shape — the
    // inner query aggregates lexical MAX(key) per region (bottom-up,
    // independent), the outer group joins it back on the PROJECTED ?r
    // and filters key = max. String domain on both sides, so the max
    // is lexical in the oracle too.
    "sparql_subquery" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?r ?n WHERE {
            |  ?n <locatedIn> ?r .
            |  ?n <key> ?k .
            |  { SELECT ?r (MAX(?k2) AS ?mx) WHERE {
            |      ?m <locatedIn> ?r . ?m <key> ?k2 . } GROUP BY ?r }
            |  FILTER(?k = ?mx)
            |} ORDER BY ?r""".stripMargin),
      Some("""WITH li AS (SELECT 'nation/' || n_name AS n,
             |    'region/' || r_name AS r, CAST(n_nationkey AS VARCHAR) AS k
             |  FROM nation JOIN region ON n_regionkey = r_regionkey),
             |mx AS (SELECT r, max(k) AS mx FROM li GROUP BY r)
             |SELECT li.r, li.n FROM li JOIN mx ON li.r = mx.r AND li.k = mx.mx
             |ORDER BY li.r""".stripMargin))),

    // §11 aggregates over full scalar EXPRESSIONS: SUM of a product and
    // AVG of arithmetic on the numeric view (integer-valued doubles —
    // exact replay, no rounding discipline needed).
    "sparql_agg_expr" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?r (SUM(?k * ?k) AS ?sumsq) (AVG(?k * 2) AS ?avg2)
            |  (MAX(STRLEN(?n)) AS ?maxlen) WHERE {
            |  ?n <locatedIn> ?r .
            |  ?n <key> ?k .
            |} GROUP BY ?r ORDER BY ?r""".stripMargin),
      Some("""SELECT 'region/' || r_name AS r,
             |  SUM(CAST(n_nationkey AS DOUBLE) * n_nationkey) AS sumsq,
             |  AVG(CAST(n_nationkey AS DOUBLE) * 2) AS avg2,
             |  CAST(MAX(length('nation/' || n_name)) AS INT) AS maxlen
             |FROM nation JOIN region ON n_regionkey = r_regionkey
             |GROUP BY 1 ORDER BY r""".stripMargin))),

    // Several sub-SELECTs per group (§12): fold left-to-right, each
    // joining on its projected variables — per-region lexical MAX key
    // and per-region nation count from two independent subqueries.
    "sparql_two_subqueries" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?r ?mx ?n WHERE {
            |  { SELECT ?r (MAX(?k) AS ?mx) WHERE {
            |      ?m <locatedIn> ?r . ?m <key> ?k . } GROUP BY ?r }
            |  { SELECT ?r (COUNT(?m2) AS ?n) WHERE {
            |      ?m2 <locatedIn> ?r . } GROUP BY ?r }
            |} ORDER BY ?r""".stripMargin),
      Some("""SELECT 'region/' || r_name AS r,
             |  max(CAST(n_nationkey AS VARCHAR)) AS mx,
             |  CAST(count(*) AS BIGINT) AS n
             |FROM nation JOIN region ON n_regionkey = r_regionkey
             |GROUP BY 1 ORDER BY r""".stripMargin))),

    // § SelectExpr projection expressions `(expr AS ?x)` over an
    // aggregated query: the expression runs AFTER grouping, sees group
    // keys + aggregate aliases + earlier expression aliases. The mean
    // is a single IEEE division of two exact integers on both engines;
    // rounded to 6 anyway per the float-oracle discipline.
    "sparql_select_expr" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?r (SUM(?k) AS ?sk) (COUNT(?n) AS ?cnt)
            |  (?sk / ?cnt AS ?mean) (CONCAT(?r, "!") AS ?tag) WHERE {
            |  ?n <locatedIn> ?r .
            |  ?n <key> ?k .
            |} GROUP BY ?r ORDER BY ?r""".stripMargin)
          .withColumn("mean", round(col("mean"), 6)),
      Some("""SELECT r, sk, cnt, round(sk / cnt, 6) AS mean, r || '!' AS tag
             |FROM (
             |  SELECT 'region/' || r_name AS r,
             |    SUM(CAST(n_nationkey AS DOUBLE)) AS sk,
             |    CAST(COUNT(*) AS BIGINT) AS cnt
             |  FROM nation JOIN region ON n_regionkey = r_regionkey
             |  GROUP BY 1)
             |ORDER BY r""".stripMargin))),

    // DISTINCT inside aggregates (§11.2 Distinct(ToMultiset)): the
    // customer-grain bag repeats each segment/nation-key thousands of
    // times; COUNT/SUM/GROUP_CONCAT DISTINCT collapse it to the
    // 5-segment / 25-key domain.
    "sparql_distinct_agg" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT (COUNT(DISTINCT ?g) AS ?nseg)
            |  (GROUP_CONCAT(DISTINCT ?g) AS ?segs)
            |  (SUM(DISTINCT ?k) AS ?sk) WHERE {
            |  ?c <segment> ?g .
            |  ?c <fromNation> ?n .
            |  ?n <key> ?k .
            |}""".stripMargin),
      Some("""SELECT
             |  CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS nseg,
             |  (SELECT string_agg(g, ' ' ORDER BY g)
             |     FROM (SELECT DISTINCT c_mktsegment AS g FROM customer)) AS segs,
             |  (SELECT SUM(DISTINCT CAST(n_nationkey AS DOUBLE))
             |     FROM customer JOIN nation ON c_nationkey = n_nationkey) AS sk
             |FROM customer""".stripMargin))),

    // BIND inside an OPTIONAL block: the alias is computed from the
    // block's own bindings (nationkey*5, an integral double rendered in
    // the untyped-string domain), the block FILTER reads it, and the
    // LeftJoin keeps every outer row — unmatched customers carry an
    // unbound (null) alias.
    "sparql_block_bind" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?c ?v WHERE {
            |  ?c <segment> "MACHINERY" .
            |  OPTIONAL { ?c <fromNation> ?n . ?n <key> ?k .
            |             BIND(?k * 5 AS ?v) . FILTER(?v >= 50) }
            |} ORDER BY ?c""".stripMargin),
      Some("""WITH seg AS (SELECT 'customer/' || c_custkey AS c FROM customer
             |  WHERE c_mktsegment = 'MACHINERY'),
             |opt AS (SELECT 'customer/' || c_custkey AS c,
             |    CAST(CAST(n_nationkey * 5 AS DOUBLE) AS VARCHAR) AS v
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey
             |  WHERE n_nationkey * 5 >= 50)
             |SELECT seg.c, opt.v FROM seg LEFT JOIN opt ON seg.c = opt.c
             |ORDER BY seg.c""".stripMargin))),

    // MINUS inside an OPTIONAL block: the anti-join decides the
    // optional BINDING — nation bound only when NO supplier supplies
    // from it (the complement of sparql_exists_in_block).
    "sparql_minus_in_block" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?c ?n WHERE {
            |  ?c <segment> "HOUSEHOLD" .
            |  OPTIONAL { ?c <fromNation> ?n .
            |             MINUS { ?sp <suppliesFrom> ?n . } }
            |} ORDER BY ?c""".stripMargin),
      Some("""WITH seg AS (SELECT 'customer/' || c_custkey AS c, c_nationkey
             |  FROM customer WHERE c_mktsegment = 'HOUSEHOLD'),
             |nn AS (SELECT n_nationkey, 'nation/' || n_name AS n FROM nation
             |  WHERE NOT EXISTS (SELECT 1 FROM supplier
             |                    WHERE s_nationkey = n_nationkey))
             |SELECT seg.c, nn.n
             |FROM seg LEFT JOIN nn ON seg.c_nationkey = nn.n_nationkey
             |ORDER BY seg.c""".stripMargin))),

    // FILTER EXISTS inside an OPTIONAL block: the existence semi-join
    // decides the optional BINDING (nation kept only when some supplier
    // supplies from it), never outer-row survival.
    "sparql_exists_in_block" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?c ?n WHERE {
            |  ?c <segment> "FURNITURE" .
            |  OPTIONAL { ?c <fromNation> ?n .
            |             FILTER EXISTS { ?sp <suppliesFrom> ?n . } }
            |} ORDER BY ?c""".stripMargin),
      Some("""WITH seg AS (SELECT 'customer/' || c_custkey AS c, c_nationkey
             |  FROM customer WHERE c_mktsegment = 'FURNITURE'),
             |nn AS (SELECT n_nationkey, 'nation/' || n_name AS n FROM nation
             |  WHERE EXISTS (SELECT 1 FROM supplier
             |                WHERE s_nationkey = n_nationkey))
             |SELECT seg.c, nn.n
             |FROM seg LEFT JOIN nn ON seg.c_nationkey = nn.n_nationkey
             |ORDER BY seg.c""".stripMargin))),

    // VALUES inside an OPTIONAL block: the inline data decides the
    // optional BINDING (nation 3 or 7 → bound, otherwise null), never
    // outer-row survival — the LeftJoin reading shared with in-block
    // FILTERs.
    "sparql_values_in_block" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?c ?n WHERE {
            |  ?c <segment> "BUILDING" .
            |  OPTIONAL { ?c <fromNation> ?n .
            |             VALUES ?n { "nation/NATION_3" "nation/NATION_7" } }
            |} ORDER BY ?c""".stripMargin),
      Some("""WITH seg AS (SELECT 'customer/' || c_custkey AS c, c_nationkey
             |  FROM customer WHERE c_mktsegment = 'BUILDING'),
             |fn AS (SELECT n_nationkey, 'nation/' || n_name AS n FROM nation
             |  WHERE 'nation/' || n_name IN ('nation/NATION_3', 'nation/NATION_7'))
             |SELECT seg.c, fn.n
             |FROM seg LEFT JOIN fn ON seg.c_nationkey = fn.n_nationkey
             |ORDER BY seg.c""".stripMargin))),

    // Nested OPTIONAL (LeftJoin nesting): the outer optional always
    // matches (every customer has a nation), the inner one only for
    // nation keys >= 10 — its FILTER decides the inner BINDING, giving
    // the three-depth nullability spread the operator exists for.
    "sparql_nested_optional" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?c ?n ?k WHERE {
            |  ?c <segment> "AUTOMOBILE" .
            |  OPTIONAL { ?c <fromNation> ?n .
            |             OPTIONAL { ?n <key> ?k . FILTER(?k >= 10) } }
            |} ORDER BY ?c""".stripMargin),
      Some("""WITH seg AS (SELECT 'customer/' || c_custkey AS c, c_nationkey
             |  FROM customer WHERE c_mktsegment = 'AUTOMOBILE'),
             |nn AS (SELECT n_nationkey, 'nation/' || n_name AS n,
             |    CASE WHEN n_nationkey >= 10
             |         THEN CAST(n_nationkey AS VARCHAR) END AS k
             |  FROM nation)
             |SELECT seg.c, nn.n, nn.k
             |FROM seg JOIN nn ON seg.c_nationkey = nn.n_nationkey
             |ORDER BY seg.c""".stripMargin))),

    // Trailing VALUES clause (§18.2.4.3): joins the solution sequence
    // AFTER grouping but BEFORE the §18.2.5 modifiers — the inline data
    // narrows the groups FIRST, then ORDER BY + LIMIT page the joined
    // sequence (all 3 named predicates survive a LIMIT 4).
    "sparql_trailing_values" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?p (COUNT(?o) AS ?n) WHERE { ?s ?p ?o . }
            |GROUP BY ?p ORDER BY ?p LIMIT 4
            |VALUES ?p { "fromNation" "key" "segment" }""".stripMargin),
      Some("""SELECT p, n FROM (
             |  SELECT p, CAST(count(*) AS BIGINT) AS n FROM (
             |    SELECT 'fromNation' AS p FROM customer
             |    UNION ALL SELECT 'locatedIn' FROM nation
             |    UNION ALL SELECT 'segment' FROM customer
             |    UNION ALL SELECT 'key' FROM nation
             |    UNION ALL SELECT 'bigspender' FROM customer WHERE c_acctbal > 9000
             |    UNION ALL SELECT 'suppliesFrom' FROM supplier
             |    UNION ALL
             |    SELECT 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' FROM customer)
             |  GROUP BY p)
             |WHERE p IN ('fromNation', 'key', 'segment')
             |ORDER BY p LIMIT 4""".stripMargin))),

    // §18.3 compatibility join, UNION shape: branch 1 binds (?nat ?k)
    // leaving ?c unbound, branch 2 binds (?c ?k) leaving ?nat unbound —
    // each branch's solutions adopt the base pattern's bindings for
    // their unbound shared var (two maybe-null vars → 4 strata, all
    // plain equi-joins).
    "sparql_union_unbound" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?c ?nat ?k WHERE {
            |  ?c <fromNation> ?nat .
            |  { ?nat <key> ?k } UNION { ?c <bigspender> ?k }
            |} ORDER BY ?c ?nat ?k LIMIT 200""".stripMargin),
      Some("""WITH fn AS (SELECT 'customer/' || c_custkey AS c,
             |    'nation/' || n_name AS nat, CAST(n_nationkey AS VARCHAR) AS k,
             |    c_acctbal
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey)
             |SELECT c, nat, k FROM (
             |  SELECT c, nat, k FROM fn
             |  UNION ALL
             |  SELECT c, nat, '1' FROM fn WHERE c_acctbal > 9000)
             |ORDER BY c, nat, k LIMIT 200""".stripMargin))),

    // UNDEF inline rows are §18.3 wildcards: the UNDEF ?seg row matches
    // every customer (tier 'all'), the constant row only BUILDING.
    "sparql_values_undef" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?c ?seg ?tier WHERE {
            |  ?c <segment> ?seg .
            |  VALUES (?seg ?tier) { ("BUILDING" "b") (UNDEF "all") }
            |} ORDER BY ?c ?tier LIMIT 200""".stripMargin),
      Some("""SELECT c, seg, tier FROM (
             |  SELECT 'customer/' || c_custkey AS c, c_mktsegment AS seg,
             |         'b' AS tier
             |  FROM customer WHERE c_mktsegment = 'BUILDING'
             |  UNION ALL
             |  SELECT 'customer/' || c_custkey, c_mktsegment, 'all'
             |  FROM customer)
             |ORDER BY c, tier LIMIT 200""".stripMargin))),

    // MINUS keyed on an OPTIONAL-bound var (§8.3 + §18.3): bigspenders
    // carry ?b = "1" and match the block (removed); everyone else has
    // ?b unbound → disjoint domains → KEPT.
    "sparql_minus_optional_key" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?c WHERE {
            |  ?c <segment> ?seg .
            |  OPTIONAL { ?c <bigspender> ?b }
            |  MINUS { ?x <bigspender> ?b }
            |} ORDER BY ?c LIMIT 150""".stripMargin),
      Some("""SELECT 'customer/' || c_custkey AS c FROM customer
             |WHERE c_acctbal <= 9000 ORDER BY c LIMIT 150""".stripMargin))),

    // NOT EXISTS on a mixed (bound ?c, maybe-unbound ?b) key pair: a
    // bigspender matches its own block row (dropped); a non-bigspender
    // has no block row for its ?c (kept) — the unbound ?b is a wildcard
    // but ?c still constrains.
    "sparql_notexists_optional_key" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?c WHERE {
            |  ?c <segment> ?seg .
            |  OPTIONAL { ?c <bigspender> ?b }
            |  FILTER NOT EXISTS { ?c <bigspender> ?b }
            |} ORDER BY ?c LIMIT 150""".stripMargin),
      Some("""SELECT 'customer/' || c_custkey AS c FROM customer
             |WHERE c_acctbal <= 9000 ORDER BY c LIMIT 150""".stripMargin))),

    // Two sibling OPTIONALs sharing ?v: bigspenders bind ?v = "1" first
    // (the second OPTIONAL can't override a bound incompatible value);
    // everyone else is extended by the second (?v = their nation).
    "sparql_optional_chain" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?c ?v WHERE {
            |  ?c <segment> ?seg .
            |  OPTIONAL { ?c <bigspender> ?v }
            |  OPTIONAL { ?c <fromNation> ?v }
            |} ORDER BY ?c LIMIT 150""".stripMargin),
      Some("""SELECT 'customer/' || c_custkey AS c,
             |  CASE WHEN c_acctbal > 9000 THEN '1'
             |       ELSE 'nation/' || n_name END AS v
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |ORDER BY c LIMIT 150""".stripMargin))),

    // Subquery AGGREGATE ALIAS as a join key (§12 + §18.3): the outer
    // nations join the one-row MAX — lexical max over the untyped
    // string domain, replayed as VARCHAR max in DuckDB.
    "sparql_subquery_agg_key" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?n ?k WHERE {
            |  ?n <key> ?k .
            |  { SELECT (MAX(?k2) AS ?k) WHERE { ?n2 <key> ?k2 } }
            |}""".stripMargin),
      Some("""SELECT 'nation/' || n_name AS n, CAST(n_nationkey AS VARCHAR) AS k
             |FROM nation
             |WHERE CAST(n_nationkey AS VARCHAR) =
             |  (SELECT max(CAST(n_nationkey AS VARCHAR)) FROM nation)""".stripMargin))),

    // Three-argument LeftJoin (§18.2.2.3): the OPTIONAL's FILTER
    // references the OUTER ?k — each nation optionally pairs with
    // same-region nations of LEXICALLY smaller key (var-var comparisons
    // are lexical over untyped literals; the oracle compares VARCHAR).
    "sparql_optional_cond" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?n ?k ?k2 WHERE {
            |  ?n <key> ?k .
            |  OPTIONAL { ?n <locatedIn> ?r . ?n2 <locatedIn> ?r .
            |             ?n2 <key> ?k2 . FILTER(?k2 < ?k) }
            |} ORDER BY ?n ?k2""".stripMargin),
      Some("""WITH nk AS (SELECT 'nation/' || n_name AS n,
             |    CAST(n_nationkey AS VARCHAR) AS k, n_regionkey FROM nation)
             |SELECT a.n, a.k, b.k AS k2
             |FROM nk a LEFT JOIN nk b
             |  ON a.n_regionkey = b.n_regionkey AND b.k < a.k
             |ORDER BY a.n, k2""".stripMargin))),

    // Correlated FILTER EXISTS (outer var in the block filter): nations
    // with a same-region nation of lexically GREATER key — the §18.2.2.3
    // condition compiled into the semi-join.
    "sparql_exists_cond" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?n ?k WHERE {
            |  ?n <key> ?k .
            |  FILTER EXISTS { ?n <locatedIn> ?r . ?n2 <locatedIn> ?r .
            |                  ?n2 <key> ?k2 . FILTER(?k2 > ?k) }
            |} ORDER BY ?n""".stripMargin),
      Some("""WITH nk AS (SELECT 'nation/' || n_name AS n,
             |    CAST(n_nationkey AS VARCHAR) AS k, n_regionkey FROM nation)
             |SELECT a.n, a.k FROM nk a
             |WHERE EXISTS (SELECT 1 FROM nk b
             |  WHERE b.n_regionkey = a.n_regionkey AND b.k > a.k)
             |ORDER BY n""".stripMargin))),

    // Right-nullable LeftJoin: the OPTIONAL block's ?x is bound only in
    // its NESTED optional (bigspender flag "1") and re-uses the OUTER
    // pattern var (the nation key). Three outcomes per nation: key "1"
    // with bigspenders → extended per customer; no bigspenders → the
    // x-unbound block row keeps the outer key; bigspenders under any
    // other key → ?x = "1" incompatible → BARE (?r unbound too). The
    // oracle replays compatibility as `x' IS NULL OR x' = x`.
    "sparql_optional_nested_outer" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?n ?x ?r ?c WHERE {
            |  ?n <key> ?x .
            |  OPTIONAL { ?n <locatedIn> ?r .
            |             OPTIONAL { ?c <fromNation> ?n . ?c <bigspender> ?x } }
            |} ORDER BY ?n ?c""".stripMargin),
      Some("""WITH nk AS (SELECT 'nation/' || n_name AS n,
             |    CAST(n_nationkey AS VARCHAR) AS x, n_regionkey FROM nation),
             |big AS (SELECT 'customer/' || c_custkey AS c,
             |    'nation/' || n_name AS n, '1' AS x
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey
             |  WHERE c_acctbal > 9000),
             |blk AS (SELECT nk.n, 'region/' || r_name AS r, big.c, big.x
             |  FROM nk JOIN region ON nk.n_regionkey = region.r_regionkey
             |  LEFT JOIN big ON big.n = nk.n)
             |SELECT nk.n, nk.x, blk.r, blk.c
             |FROM nk LEFT JOIN blk
             |  ON blk.n = nk.n AND (blk.x IS NULL OR blk.x = nk.x)
             |ORDER BY nk.n, blk.c""".stripMargin))),

    // §18.2.5 OrderBy runs BEFORE projection: the sort keys ?g ?n are
    // NOT projected — the page is cut on the full-frame order, then
    // projected down to ?c.
    "sparql_order_nonprojected" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?c WHERE { ?c <segment> ?g . ?c <fromNation> ?n . }
            |ORDER BY ?g ?n ?c LIMIT 150""".stripMargin),
      Some("""SELECT 'customer/' || c_custkey AS c
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |ORDER BY c_mktsegment, 'nation/' || n_name,
             |  'customer/' || c_custkey LIMIT 150""".stripMargin))),

    // GRAPH ?g (§13.3) over the per-region quad fixture: ranges the
    // named-graph set, binds ?g per solution, groups per (graph,
    // segment) — the per-graph scoped aggregation shape.
    "sparql_graph_var" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlQuads(s, d),
          """SELECT ?g ?seg (COUNT(?c) AS ?n) WHERE {
            |  GRAPH ?g { ?c <segment> ?seg } }
            |GROUP BY ?g ?seg ORDER BY ?g ?seg""".stripMargin),
      Some("""SELECT 'graph/' || r_name AS g, c_mktsegment AS seg,
             |  CAST(count(*) AS BIGINT) AS n
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY 1, 2 ORDER BY g, seg""".stripMargin))),

    // GRAPH <iri> pins one named graph; the surrounding pattern reads
    // the DEFAULT graph — ASIA customers joined to their nation keys.
    "sparql_graph_const" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlQuads(s, d),
          """SELECT ?c ?n ?k WHERE {
            |  GRAPH <graph/ASIA> { ?c <fromNation> ?n }
            |  ?n <key> ?k
            |} ORDER BY ?c LIMIT 150""".stripMargin),
      Some("""SELECT 'customer/' || c_custkey AS c, 'nation/' || n_name AS n,
             |  CAST(n_nationkey AS VARCHAR) AS k
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA' ORDER BY c LIMIT 150""".stripMargin))),

    // FROM (§13.2): the named graph MERGES into the default graph —
    // the plain pattern reads graph/EUROPE's statements.
    "sparql_from" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlQuads(s, d),
          """SELECT ?c ?seg FROM <graph/EUROPE> WHERE {
            |  ?c <segment> ?seg } ORDER BY ?c LIMIT 150""".stripMargin),
      Some("""SELECT 'customer/' || c_custkey AS c, c_mktsegment AS seg
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'EUROPE' ORDER BY c LIMIT 150""".stripMargin))),

    // SPARQL 1.1 Update, DELETE/INSERT WHERE: bigspender BUILDING
    // customers flip to PREMIUM — deletes against the original graph,
    // inserts after, SET semantics; the updated graph's segment
    // statements replay in DuckDB via a CASE.
    "sparql_update_delins" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.update(sparqlTriples(s, d),
          """DELETE { ?c <segment> "BUILDING" }
            |INSERT { ?c <segment> "PREMIUM" }
            |WHERE { ?c <segment> "BUILDING" . ?c <bigspender> "1" }""".stripMargin)
          .where(col("p") === "segment")
          .select(col("s").as("c"), col("o").as("seg"))
          .orderBy("c", "seg"),
      Some("""SELECT 'customer/' || c_custkey AS c,
             |  CASE WHEN c_mktsegment = 'BUILDING' AND c_acctbal > 9000
             |       THEN 'PREMIUM' ELSE c_mktsegment END AS seg
             |FROM customer ORDER BY c, seg""".stripMargin))),

    // SPARQL 1.1 Update, DELETE WHERE shortcut: every bigspender
    // statement goes; the per-predicate census of the updated graph
    // pins both the removal and everything else's survival.
    "sparql_update_delete_where" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.update(sparqlTriples(s, d),
          "DELETE WHERE { ?c <bigspender> ?f . }")
          .groupBy(col("p")).agg(count(lit(1)).as("n")).orderBy("p"),
      Some("""SELECT p, CAST(count(*) AS BIGINT) AS n FROM (
             |  SELECT 'fromNation' AS p FROM customer
             |  UNION ALL SELECT 'locatedIn' FROM nation
             |  UNION ALL SELECT 'segment' FROM customer
             |  UNION ALL SELECT 'key' FROM nation
             |  UNION ALL SELECT 'suppliesFrom' FROM supplier
             |  UNION ALL
             |  SELECT 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
             |  FROM customer)
             |GROUP BY p ORDER BY p""".stripMargin))),

    // Quad-level Update graph management: MOVE folds graph/ASIA into
    // the default graph, OVERWRITING it (§3.2.7 drops the destination's
    // prior content — the nation statements go); the per-(graph,
    // predicate) census pins the null-safe relabeling and every other
    // graph's survival.
    "sparql_update_quads" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.update(sparqlQuads(s, d),
          "MOVE GRAPH <graph/ASIA> TO DEFAULT")
          .groupBy(coalesce(col("g"), lit("default")).as("grf"), col("p"))
          .agg(count(lit(1)).as("n"))
          .orderBy("grf", "p"),
      Some("""SELECT grf, p, CAST(count(*) AS BIGINT) AS n FROM (
             |  SELECT CASE WHEN r_name = 'ASIA' THEN 'default'
             |              ELSE 'graph/' || r_name END AS grf,
             |         'segment' AS p
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey
             |  JOIN region ON n_regionkey = r_regionkey
             |  UNION ALL
             |  SELECT CASE WHEN r_name = 'ASIA' THEN 'default'
             |              ELSE 'graph/' || r_name END, 'fromNation'
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey
             |  JOIN region ON n_regionkey = r_regionkey)
             |GROUP BY grf, p ORDER BY grf, p""".stripMargin))),

    // SPARQL 1.1 Update §3.1.3 WITH: both the un-scoped templates and
    // the WHERE clause scope to graph/EUROPE — every EUROPE segment
    // flips to "EU", every other graph (and the default) is untouched.
    // The per-(graph, segment) census pins both effects.
    "sparql_update_with" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.update(sparqlQuads(s, d),
          """WITH <graph/EUROPE>
            |DELETE { ?c <segment> ?s } INSERT { ?c <segment> "EU" }
            |WHERE { ?c <segment> ?s }""".stripMargin)
          .where(col("p") === "segment")
          .groupBy(col("g").as("grf"), col("o").as("seg"))
          .agg(count(lit(1)).as("n"))
          .orderBy("grf", "seg"),
      Some("""SELECT grf, seg, CAST(count(*) AS BIGINT) AS n FROM (
             |  SELECT 'graph/' || r_name AS grf,
             |    CASE WHEN r_name = 'EUROPE' THEN 'EU'
             |         ELSE c_mktsegment END AS seg
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey
             |  JOIN region ON n_regionkey = r_regionkey)
             |GROUP BY grf, seg ORDER BY grf, seg""".stripMargin))),

    // §3.1.3 USING: the WHERE clause's dataset clause — ASIA and
    // AFRICA merge into the WHERE's default graph, while the un-scoped
    // INSERT template targets the store's DEFAULT graph (no WITH):
    // their customers gain a default-graph MIXED statement, the named
    // graphs replay unchanged.
    "sparql_update_using" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.update(sparqlQuads(s, d),
          """INSERT { ?c <segment> "MIXED" }
            |USING <graph/ASIA> USING <graph/AFRICA>
            |WHERE { ?c <segment> ?s }""".stripMargin)
          .where(col("p") === "segment")
          .groupBy(coalesce(col("g"), lit("default")).as("grf"),
            col("o").as("seg"))
          .agg(count(lit(1)).as("n"))
          .orderBy("grf", "seg"),
      Some("""SELECT grf, seg, CAST(count(*) AS BIGINT) AS n FROM (
             |  SELECT 'graph/' || r_name AS grf, c_mktsegment AS seg
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey
             |  JOIN region ON n_regionkey = r_regionkey
             |  UNION ALL
             |  SELECT 'default', 'MIXED'
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey
             |  JOIN region ON n_regionkey = r_regionkey
             |  WHERE r_name IN ('ASIA', 'AFRICA'))
             |GROUP BY grf, seg ORDER BY grf, seg""".stripMargin))),

    // BGP top-k pushdown (Sparql.bgpTopKPrune): the customers×suppliers-
    // per-nation star is OUTPUT-QUADRATIC; the Yannakakis-reduced
    // threshold prunes every ?c-binding pattern frame to the 100 best
    // matched customers before the join product forms — same rule as
    // the Cypher planner's cy_var_cycle fix, on the SPARQL side.
    "sparql_topk_pushdown" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?c ?s WHERE { ?c <fromNation> ?n . ?s <suppliesFrom> ?n }
            |ORDER BY ?c ?s LIMIT 100""".stripMargin),
      Some("""SELECT 'customer/' || c_custkey AS c, 'supplier/' || s_suppkey AS s
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |JOIN supplier ON s_nationkey = n_nationkey
             |ORDER BY c, s LIMIT 100""".stripMargin))),

    // BGP top-k pushdown over a PROPERTY-PATH frame (r16): the Kleene
    // closure ?c (fromNation|locatedIn)+ ?x is an exact relation over
    // its endpoints, so GYO semireduction stays sound — the closure is
    // materialized ONCE (checkpointed in phase A, reused by the join)
    // and the supplier pattern's ?s threshold prunes it before the
    // customers×suppliers-per-nation product forms. Only ?x = nation
    // rows join (locatedIn targets regions, which supply nothing).
    "sparql_topk_path" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?c ?s WHERE { ?c (<fromNation>|<locatedIn>)+ ?x .
            |?s <suppliesFrom> ?x } ORDER BY ?s ?c LIMIT 80""".stripMargin),
      Some("""SELECT 'customer/' || c_custkey AS c, 'supplier/' || s_suppkey AS s
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |JOIN supplier ON s_nationkey = n_nationkey
             |ORDER BY s, c LIMIT 80""".stripMargin))),

    // §17.4.4 hash builtins over the UTF-8 string form — lowercase hex
    // on both engines, replayed verbatim.
    "sparql_hash" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?n (MD5(?n) AS ?h5) (SHA256(?n) AS ?sh) WHERE {
            |  ?n <key> ?k } ORDER BY ?n""".stripMargin),
      Some("""SELECT n, md5(n) AS h5, sha256(n) AS sh
             |FROM (SELECT 'nation/' || n_name AS n FROM nation)
             |ORDER BY n""".stripMargin))),

    // §17.4.5 datetime accessors + §17.4.1.8 sameTerm, over LEXICAL
    // xsd:dateTime forms (this term model keeps lexical strings — the
    // accessors parse the form, and a non-datetime operand is a type
    // error = unbound). The fixture constructs order/N ->
    // "YYYY-MM-DDTHH:45:07.25<tz>" with a key-derived hour and a
    // 3-cycle timezone; the ORACLE derives every field independently
    // from the timestamp column (EXTRACT + key arithmetic), not by
    // replaying the regexes. sameTerm(TZ(?d), "Z") is STRICT equality
    // (no numeric coercion), filtering to the key % 3 = 0 cycle.
    "sparql_datetime_fns" -> ((
      (s: SparkSession, d: String) => {
        val o = t(s, d, "orders")
        val tzc = when(pmod(col("o_orderkey"), lit(3)) === 0, lit("Z"))
          .when(pmod(col("o_orderkey"), lit(3)) === 1, lit("+05:30"))
          .otherwise(lit(""))
        val dt = concat(date_format(col("o_orderdate"), "yyyy-MM-dd"), lit("T"),
          lpad(pmod(col("o_orderkey"), lit(24)).cast(StringType), 2, "0"),
          lit(":45:07.25"), tzc)
        val triples = o.select(concat(lit("order/"), col("o_orderkey")).as("s"),
          lit("orderedOn").as("p"), dt.as("o"))
        graft.sparql.Sparql.run(triples,
          """SELECT ?o ?y ?m ?day ?h ?min ?sec ?tz ?dur WHERE {
            |  ?o <orderedOn> ?d .
            |  BIND(YEAR(?d) AS ?y) BIND(MONTH(?d) AS ?m) BIND(DAY(?d) AS ?day)
            |  BIND(HOURS(?d) AS ?h) BIND(MINUTES(?d) AS ?min)
            |  BIND(SECONDS(?d) AS ?sec) BIND(TZ(?d) AS ?tz)
            |  BIND(TIMEZONE(?d) AS ?dur)
            |  FILTER(YEAR(?d) = 1996 && sameTerm(TZ(?d), "Z"))
            |} ORDER BY ?o LIMIT 150""".stripMargin)
      },
      Some("""SELECT 'order/' || o_orderkey AS o,
             |  CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS y,
             |  CAST(EXTRACT(MONTH FROM o_orderdate) AS INTEGER) AS m,
             |  CAST(EXTRACT(DAY FROM o_orderdate) AS INTEGER) AS day,
             |  CAST(o_orderkey % 24 AS INTEGER) AS h,
             |  CAST(45 AS INTEGER) AS min, CAST(7.25 AS DOUBLE) AS sec,
             |  'Z' AS tz, 'PT0S' AS dur
             |FROM orders
             |WHERE EXTRACT(YEAR FROM o_orderdate) = 1996 AND o_orderkey % 3 = 0
             |ORDER BY o LIMIT 150""".stripMargin))),

    // §9.1 negated property set COMPOSED with §18.4 Kleene: (!(…))*
    // walks the COMPLEMENT edge set from a constant seed (BFS regime).
    // Excluding segment/bigspender/suppliesFrom/rdf:type leaves
    // fromNation ∪ locatedIn ∪ key — reach = the customer itself
    // (zero-length), its nation, the nation's region and key literal.
    "sparql_path_negated_star" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?x WHERE {
            |  <customer/1> !(<segment>|<bigspender>|<suppliesFrom>|a)* ?x .
            |} ORDER BY ?x""".stripMargin),
      Some("""WITH RECURSIVE comp AS (
             |  SELECT DISTINCT a, b FROM (
             |    SELECT 'customer/' || c_custkey AS a, 'nation/' || n_name AS b
             |    FROM customer JOIN nation ON c_nationkey = n_nationkey
             |    UNION ALL
             |    SELECT 'nation/' || n_name, 'region/' || r_name
             |    FROM nation JOIN region ON n_regionkey = r_regionkey
             |    UNION ALL
             |    SELECT 'nation/' || n_name, CAST(n_nationkey AS VARCHAR)
             |    FROM nation)),
             |reach(x) AS (
             |  SELECT 'customer/1'
             |  UNION
             |  SELECT comp.b FROM reach JOIN comp ON comp.a = reach.x)
             |SELECT x FROM reach ORDER BY x""".stripMargin))),

    // GROUP BY with no aggregate projections (§18.2.4.1): one solution
    // per group — the distinct market segments.
    "sparql_group_noagg" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          "SELECT ?seg WHERE { ?c <segment> ?seg } GROUP BY ?seg ORDER BY ?seg"),
      Some("SELECT c_mktsegment AS seg FROM customer GROUP BY 1 ORDER BY seg"))),

    // IF error propagation (§17.4.1.2): ?size exercises both arms on
    // the numeric nation key; ?f's condition is NULL for non-bigspenders
    // (?b unbound) — the alias stays UNBOUND, never the else-branch.
    "sparql_if_unbound" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?c ?size ?f WHERE {
            |  ?c <fromNation> ?n . ?n <key> ?k .
            |  BIND(IF(?k >= 10, "high", "low") AS ?size)
            |  OPTIONAL { ?c <bigspender> ?b }
            |  BIND(IF(?b = "1", "big", "?") AS ?f)
            |} ORDER BY ?c LIMIT 150""".stripMargin),
      Some("""SELECT 'customer/' || c_custkey AS c,
             |  CASE WHEN n_nationkey >= 10 THEN 'high' ELSE 'low' END AS size,
             |  CASE WHEN c_acctbal > 9000 THEN 'big' ELSE NULL END AS f
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |ORDER BY c LIMIT 150""".stripMargin))),

    // Kleene modifier INSIDE a multi-step path: fromNation/locatedIn* —
    // the zero-length arm binds the nation itself, one hop the region
    // (regions have no outgoing locatedIn, so the fixpoint stops).
    "sparql_path_seq_star" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?c ?x WHERE { ?c <fromNation>/<locatedIn>* ?x . }
            |ORDER BY ?c ?x LIMIT 200""".stripMargin),
      Some("""SELECT c, x FROM (
             |  SELECT 'customer/' || c_custkey AS c, 'nation/' || n_name AS x
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey
             |  UNION ALL
             |  SELECT 'customer/' || c_custkey, 'region/' || r_name
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey
             |  JOIN region ON n_regionkey = r_regionkey)
             |ORDER BY c, x LIMIT 200""".stripMargin))),

    // Group-element ORDER (§18.2.2.6): the VALUES is written AFTER the
    // OPTIONAL, so it joins the EXTENDED solutions — ASIA customers
    // keep their bound nation only if it's CHINA/JAPAN, non-ASIA
    // customers (?n unbound) take both inline rows.
    "sparql_values_after_optional" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?c ?n WHERE {
            |  ?c <segment> ?seg .
            |  OPTIONAL { ?c <fromNation> ?n . ?n <locatedIn> <region/ASIA> }
            |  VALUES ?n { "nation/CHINA" "nation/JAPAN" }
            |} ORDER BY ?c ?n LIMIT 200""".stripMargin),
      Some("""WITH cn AS (SELECT 'customer/' || c_custkey AS c,
             |    'nation/' || n_name AS n, r_name
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey
             |  JOIN region ON n_regionkey = r_regionkey)
             |SELECT c, n FROM (
             |  SELECT c, n FROM cn
             |  WHERE r_name = 'ASIA' AND n IN ('nation/CHINA', 'nation/JAPAN')
             |  UNION ALL
             |  SELECT cn.c, v.n FROM cn
             |  CROSS JOIN (VALUES ('nation/CHINA'), ('nation/JAPAN')) AS v(n)
             |  WHERE cn.r_name <> 'ASIA')
             |ORDER BY c, n LIMIT 200""".stripMargin))),

    // GROUP BY expression keys (§ GroupCondition): customers grouped by
    // the LENGTH of their market segment — len 9 merges FURNITURE /
    // MACHINERY / HOUSEHOLD, a genuinely expression-valued key. The
    // aliased key is projectable like a plain group var.
    "sparql_group_expr" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?len (COUNT(?c) AS ?n) WHERE { ?c <segment> ?g . }
            |GROUP BY (STRLEN(?g) AS ?len) ORDER BY ?len""".stripMargin),
      Some("""SELECT CAST(length(c_mktsegment) AS INT) AS len,
             |  CAST(count(*) AS BIGINT) AS n
             |FROM customer GROUP BY 1 ORDER BY len""".stripMargin))),

    // PREFIX declarations (§4.1.1): pfx:local names expand to full IRIs
    // in every term position before planning — the header most real
    // SPARQL starts with.
    "sparql_prefix" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """PREFIX n: <nation/>
            |SELECT ?c ?r WHERE {
            |  ?c <fromNation> n:NATION_7 .
            |  ?c <bigspender> "1" .
            |  n:NATION_7 <locatedIn> ?r .
            |} ORDER BY ?c""".stripMargin),
      Some("""WITH r7 AS (SELECT 'region/' || r_name AS r
             |  FROM nation JOIN region ON n_regionkey = r_regionkey
             |  WHERE n_name = 'NATION_7')
             |SELECT 'customer/' || c_custkey AS c, r7.r
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |CROSS JOIN r7
             |WHERE n_name = 'NATION_7' AND c_acctbal > 9000
             |ORDER BY c""".stripMargin))),

    // CONSTRUCT WHERE shorthand (§10.2.3): the WHERE triples are the
    // template — here the two-predicate star subgraph around nations.
    "sparql_construct_where" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """CONSTRUCT WHERE { ?n <locatedIn> ?r . ?n <key> ?k . }""")
          .orderBy(col("s"), col("p"), col("o")),
      Some("""SELECT s, p, o FROM (
             |  SELECT DISTINCT 'nation/' || n_name AS s, 'locatedIn' AS p,
             |    'region/' || r_name AS o
             |  FROM nation JOIN region ON n_regionkey = r_regionkey
             |  UNION
             |  SELECT DISTINCT 'nation/' || n_name, 'key',
             |    CAST(n_nationkey AS VARCHAR)
             |  FROM nation)
             |ORDER BY s, p, o""".stripMargin))),

    // FILTER inside an OPTIONAL block — the LeftJoin reading: the
    // filter decides whether the optional part BINDS, never whether
    // the outer row survives (a top-level filter would drop it).
    "sparql_optional_filter" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?c ?n WHERE {
            |  ?c <segment> "MACHINERY" .
            |  OPTIONAL { ?c <fromNation> ?n . FILTER(STRENDS(?n, "_3")) }
            |} ORDER BY ?c""".stripMargin),
      Some("""WITH seg AS (SELECT 'customer/' || c_custkey AS c FROM customer
             |  WHERE c_mktsegment = 'MACHINERY'),
             |fn AS (SELECT 'customer/' || c_custkey AS c, 'nation/' || n_name AS n
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey
             |  WHERE regexp_matches(n_name, '_3$'))
             |SELECT seg.c, fn.n FROM seg LEFT JOIN fn ON seg.c = fn.c
             |ORDER BY seg.c""".stripMargin))),

    // Bare VARIABLE predicate (`?s ?p ?o`): an unfiltered scan binding
    // the predicate column — here the full predicate census, grouped.
    // (Variables inside MULTI-step paths stay parse-rejected, as
    // SPARQL 1.1 §9 requires.)
    "sparql_path_var" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?p (COUNT(?o) AS ?n) WHERE { ?s ?p ?o . }
            |GROUP BY ?p ORDER BY ?p""".stripMargin),
      Some("""SELECT p, CAST(count(*) AS BIGINT) AS n FROM (
             |  SELECT 'fromNation' AS p FROM customer
             |  UNION ALL SELECT 'locatedIn' FROM nation
             |  UNION ALL SELECT 'segment' FROM customer
             |  UNION ALL SELECT 'key' FROM nation
             |  UNION ALL SELECT 'bigspender' FROM customer WHERE c_acctbal > 9000
             |  UNION ALL SELECT 'suppliesFrom' FROM supplier
             |  UNION ALL
             |  SELECT 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' FROM customer)
             |GROUP BY p ORDER BY p""".stripMargin))),

    // ORDER BY full scalar expressions (§15.1 OrderCondition): the
    // predicate census sorted by DESC(count * 2 - 1) — an arithmetic
    // sort key over the aggregate alias — tie-broken by ?p, then cut to
    // the top 4 so the ordering is content-visible to the row-sorted
    // compare (ties at the cut are covered by the tiebreak).
    "sparql_order_expr" -> ((
      (s: SparkSession, d: String) =>
        graft.sparql.Sparql.run(sparqlTriples(s, d),
          """SELECT ?p (COUNT(?o) AS ?n) WHERE { ?s ?p ?o . }
            |GROUP BY ?p ORDER BY DESC(?n * 2 - 1) ?p LIMIT 4""".stripMargin),
      Some("""SELECT p, CAST(count(*) AS BIGINT) AS n FROM (
             |  SELECT 'fromNation' AS p FROM customer
             |  UNION ALL SELECT 'locatedIn' FROM nation
             |  UNION ALL SELECT 'segment' FROM customer
             |  UNION ALL SELECT 'key' FROM nation
             |  UNION ALL SELECT 'bigspender' FROM customer WHERE c_acctbal > 9000
             |  UNION ALL SELECT 'suppliesFrom' FROM supplier
             |  UNION ALL
             |  SELECT 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' FROM customer)
             |GROUP BY p ORDER BY count(*) * 2 - 1 DESC, p LIMIT 4""".stripMargin))),

    "rdf_ingest" -> ((
      (s: SparkSession, d: String) => {
        val lines = t(s, d, "nation")
          .join(t(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
          .select(concat(
            lit("<nation/"), col("n_name"), lit("> <locatedIn> <region/"),
            col("r_name"), lit("> .")).as("value"))
        graft.sources.GraphSources.parseRdfTriples(lines)
          .edges.select(col("src"), col("dst"), col("type"))
          .orderBy(col("src"), col("dst"))
      },
      Some("""SELECT 'nation/' || n_name AS src, 'region/' || r_name AS dst,
             |'locatedIn' AS type
             |FROM nation JOIN region ON n_regionkey = r_regionkey
             |ORDER BY src, dst""".stripMargin))),

    // `process_dataset` (reference JSONParser.cpp): JSONL citation
    // reformat — dense first-seen vertex ids, reindexed edge list with
    // bag multiplicities. Lines synthesized from customer (c%5==0 lines
    // carry no references — the skip branch); oracle replays the
    // first-seen rank with window functions.
    "json_dataset_edges" -> ((
      (s: SparkSession, d: String) =>
        graft.sources.GraphSources.processJsonDataset(
          citationLines(s, d), lineNoCol = Some("ln"), minFieldCount = 100L)
          .edges.groupBy(col("src"), col("dst"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("src"), col("dst")),
      Some(jsonDatasetSqlPrefix +
        """SELECT s.id AS src, d.id AS dst, count(*) AS cnt
          |FROM refs JOIN ids s ON refs.sv = s.v JOIN ids d ON refs.rv = d.v
          |GROUP BY 1, 2 ORDER BY src, dst""".stripMargin))),

    // `process_dataset` attribute pass: one-hot field-of-study vectors
    // (strict w > 0.5 / count > 100 thresholds, sorted-name positions)
    // for every line whose id earned a dense id, flattened to a bit
    // string (the harness takes no raw arrays).
    // ORACLE ASSUMPTION (pinned): the field vocabulary is NON-EMPTY at
    // this fixture/threshold (market segments always clear
    // minFieldCount=100 at sf0.01). With an empty vocabulary the Spark
    // side emits one empty-bits row per mapped line while the CROSS
    // JOIN grid below yields zero rows — if the threshold or fixture
    // ever changes, switch the oracle to a LEFT JOIN from lines with
    // coalesce(bits, '').
    "json_dataset_attrs" -> ((
      (s: SparkSession, d: String) =>
        graft.sources.GraphSources.processJsonDataset(
          citationLines(s, d), lineNoCol = Some("ln"), minFieldCount = 100L)
          .attributes
          .select(col("id"),
            array_join(transform(col("attrs"), b => b.cast(StringType)), "").as("bits"))
          .orderBy(col("id")),
      Some(jsonDatasetSqlPrefix +
        """, counted AS (
          |  SELECT name FROM fos WHERE w > 0.5 GROUP BY name HAVING count(*) > 100),
          |fields AS (
          |  SELECT name, row_number() OVER (ORDER BY name) - 1 AS fid FROM counted),
          |setbits AS (
          |  SELECT DISTINCT fos.ln, f.fid FROM fos JOIN fields f ON fos.name = f.name
          |  WHERE fos.w > 0.5),
          |grid AS (
          |  SELECT l.ln, l.id AS v, f.fid,
          |         CASE WHEN b.fid IS NOT NULL THEN '1' ELSE '0' END AS bit
          |  FROM (SELECT ln, id FROM base) l
          |  CROSS JOIN fields f
          |  LEFT JOIN setbits b ON b.ln = l.ln AND b.fid = f.fid)
          |SELECT i.id, string_agg(bit, '' ORDER BY fid) AS bits
          |FROM grid JOIN ids i ON grid.v = i.v
          |GROUP BY grid.ln, i.id ORDER BY i.id""".stripMargin))))

  // ======================================================================
  // Deterministic sampling / packing (training-data pipeline, §Sampling)
  // ======================================================================

  /** TPC-H-derived triple store for the SPARQL queries: customer
    * nationality, nation location, customer segment, nation key (an
    * integer literal for numeric FILTERs) and the PARTIAL bigspender
    * predicate (only acctbal > 9000 — exercises OPTIONAL). */
  /** Quad fixture for the SPARQL dataset surface (§13): per-REGION
    * named graphs `graph/<R>` carry the customer segment/fromNation
    * statements of that region's customers; nation locatedIn/key
    * statements live in the DEFAULT graph (g null). */
  private def sparqlQuads(s: SparkSession, d: String): DataFrame = {
    val c = t(s, d, "customer"); val n = t(s, d, "nation"); val r = t(s, d, "region")
    def q(gC: Column, sC: Column, p: String, oC: Column) =
      Seq(gC.as("g"), sC.as("s"), lit(p).as("p"), oC.as("o"))
    val cr = c.join(n, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
    val seg = cr.select(q(concat(lit("graph/"), col("r_name")),
      concat(lit("customer/"), col("c_custkey")), "segment",
      col("c_mktsegment")): _*)
    val fn = cr.select(q(concat(lit("graph/"), col("r_name")),
      concat(lit("customer/"), col("c_custkey")), "fromNation",
      concat(lit("nation/"), col("n_name"))): _*)
    val li = n.join(r, col("n_regionkey") === col("r_regionkey"))
      .select(q(lit(null).cast(StringType),
        concat(lit("nation/"), col("n_name")), "locatedIn",
        concat(lit("region/"), col("r_name"))): _*)
    val key = n.select(q(lit(null).cast(StringType),
      concat(lit("nation/"), col("n_name")), "key",
      col("n_nationkey").cast(StringType)): _*)
    seg.unionByName(fn).unionByName(li).unionByName(key)
  }

  private def sparqlTriples(s: SparkSession, d: String): DataFrame = {
    val c = t(s, d, "customer"); val n = t(s, d, "nation"); val r = t(s, d, "region")
    def tr(sC: Column, p: String, oC: Column) =
      Seq(sC.as("s"), lit(p).as("p"), oC.as("o"))
    val fn = c.join(n, col("c_nationkey") === col("n_nationkey"))
      .select(tr(concat(lit("customer/"), col("c_custkey")), "fromNation",
        concat(lit("nation/"), col("n_name"))): _*)
    val li = n.join(r, col("n_regionkey") === col("r_regionkey"))
      .select(tr(concat(lit("nation/"), col("n_name")), "locatedIn",
        concat(lit("region/"), col("r_name"))): _*)
    val seg = c.select(tr(concat(lit("customer/"), col("c_custkey")), "segment",
      col("c_mktsegment")): _*)
    val key = n.select(tr(concat(lit("nation/"), col("n_name")), "key",
      col("n_nationkey").cast(StringType)): _*)
    val big = c.where(col("c_acctbal") > 9000)
      .select(tr(concat(lit("customer/"), col("c_custkey")), "bigspender",
        lit("1")): _*)
    val sup = t(s, d, "supplier")
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .select(tr(concat(lit("supplier/"), col("s_suppkey")), "suppliesFrom",
        concat(lit("nation/"), col("n_name"))): _*)
    // rdf:type triples back the `a` keyword (sparql_path_type)
    val typ = c.select(tr(concat(lit("customer/"), col("c_custkey")),
      graft.sparql.Sparql.RdfType, lit("Customer")): _*)
    fn.unionByName(li).unionByName(seg).unionByName(key).unionByName(big)
      .unionByName(sup).unionByName(typ)
  }

  /**
   * JSONL citation fixture for the `process_dataset` queries: one line
   * per customer (line order = c_custkey), referencing `(3c mod n)+1`
   * and `(7c mod n)+1` (both in the contiguous custkey domain; may
   * collide — the duplicate-ref bag branch); every fifth customer has
   * no references (the skip branch). Fields of study: the market
   * segment at w=0.6 (always counted) and the nation at 0.7 / 0.4
   * depending on `c mod 3` (the strict weight filter). The real JSON
   * round-trip is part of the query: lines go through `to_json` here
   * and `from_json` inside the operator.
   */
  private def citationLines(s: SparkSession, d: String): DataFrame = {
    val c = t(s, d, "customer")
    val n = c.agg(max(col("c_custkey").cast(LongType)).as("__n"))
    c.crossJoin(broadcast(n)).select(
      col("c_custkey").cast(LongType).as("ln"),
      to_json(struct(
        col("c_custkey").cast(StringType).as("id"),
        when(col("c_custkey") % 5 === 0, array().cast(ArrayType(StringType)))
          .otherwise(array(
            ((col("c_custkey") * 3) % col("__n") + 1).cast(StringType),
            ((col("c_custkey") * 7) % col("__n") + 1).cast(StringType)))
          .as("references"),
        array(
          struct(col("c_mktsegment").as("name"), lit(0.6).as("w")),
          struct(concat(lit("nation_"), col("c_nationkey")).as("name"),
            when(col("c_custkey") % 3 === 0, lit(0.4)).otherwise(lit(0.7)).as("w")))
          .as("fos"))).as("value"))
  }

  /** Shared CTE prefix replaying [[citationLines]] + the first-seen
    * dense-id pass of `processJsonDataset` in DuckDB: the occurrence
    * stream (subject pos 0, refs pos 1/2, reference-free lines skipped)
    * ranked by (line, pos) first appearance. */
  private def jsonDatasetSqlPrefix: String =
    """WITH params AS (SELECT max(c_custkey) AS n FROM customer),
      |base AS (
      |  SELECT c_custkey AS ln, c_custkey AS id,
      |         c_custkey % 5 <> 0 AS has_refs,
      |         (c_custkey * 3) % n + 1 AS r1,
      |         (c_custkey * 7) % n + 1 AS r2,
      |         c_mktsegment AS seg,
      |         'nation_' || c_nationkey AS nat,
      |         CASE WHEN c_custkey % 3 = 0 THEN 0.4 ELSE 0.7 END AS natw
      |  FROM customer, params),
      |occ AS (
      |  SELECT ln, 0 AS pos, id AS v FROM base WHERE has_refs
      |  UNION ALL SELECT ln, 1, r1 FROM base WHERE has_refs
      |  UNION ALL SELECT ln, 2, r2 FROM base WHERE has_refs),
      |fs AS (
      |  SELECT v, ln, pos,
      |         row_number() OVER (PARTITION BY v ORDER BY ln, pos) AS rn
      |  FROM occ),
      |ids AS (
      |  SELECT v, row_number() OVER (ORDER BY ln, pos) - 1 AS id
      |  FROM fs WHERE rn = 1),
      |refs AS (
      |  SELECT ln, id AS sv, r1 AS rv FROM base WHERE has_refs
      |  UNION ALL SELECT ln, id, r2 FROM base WHERE has_refs),
      |fos AS (
      |  SELECT ln, seg AS name, 0.6 AS w FROM base
      |  UNION ALL SELECT ln, nat, natw FROM base)
      |""".stripMargin

  /** The Knuth bucket map of [[Sampling.bucketOf]] in verifiable mode,
    * replayed in DuckDB SQL. Keys here are non-negative, so DuckDB's %
    * coincides with Spark's pmod; the residue-first form keeps the
    * product < 2.7e15, far from BIGINT overflow in both engines. */
  private def knuthBucketSql(key: String): String =
    s"(($key % 1000000) * 2654435761) % 1000000"

  val sampling: Map[String, (Q, Option[String])] = Map(
    // Deterministic Bernoulli sample at 20%: a pure codegen'd filter that
    // rides the parquet scan (no shuffle, no RNG state). Verifiable mode
    // so DuckDB replays the exact keep-set, not just the keep-rate.
    "samp_hash" -> ((
      (s: SparkSession, d: String) =>
        Sampling.hashSample(
            t(s, d, "documents").select(col("doc_id"), col("lang")),
            "doc_id", fraction = 0.2, verifiable = true)
          .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id, lang FROM documents
              |WHERE ${knuthBucketSql("doc_id")} < 200000
              |ORDER BY doc_id""".stripMargin))),

    // Stratified cap: ≤100 orders per priority class, chosen by hash
    // priority with the key as total tie-break — one shuffle on the
    // stratum column, identical rank semantics replayed via ROW_NUMBER.
    "samp_stratified" -> ((
      (s: SparkSession, d: String) =>
        Sampling.stratifiedCap(
            t(s, d, "orders").select(col("o_orderpriority"), col("o_orderkey")),
            "o_orderpriority", "o_orderkey", n = 100, verifiable = true)
          .orderBy(col("o_orderpriority"), col("o_orderkey")),
      Some(s"""SELECT o_orderpriority, o_orderkey FROM (
              |  SELECT o_orderpriority, o_orderkey,
              |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
              |      ORDER BY ${knuthBucketSql("o_orderkey")}, o_orderkey) AS rn
              |  FROM orders) WHERE rn <= 100
              |ORDER BY o_orderpriority, o_orderkey""".stripMargin))),

    // Train/val/test assignment by hash range: 80/10/10, verifiable mode
    // — the CASE over the Knuth bucket replayed verbatim.
    "samp_split" -> ((
      (s: SparkSession, d: String) =>
        Sampling.hashSplit(t(s, d, "documents").select(col("doc_id")),
            "doc_id", Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)),
            verifiable = true)
          .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id,
              |  CASE WHEN ${knuthBucketSql("doc_id")} < 800000 THEN 'train'
              |       WHEN ${knuthBucketSql("doc_id")} < 900000 THEN 'val'
              |       ELSE 'test' END AS split
              |FROM documents ORDER BY doc_id""".stripMargin))),

    // Temperature-reweighted mixture sampling (alpha = 0.5, target 30%):
    // per-language keep rates ∝ count^0.5 capped at 1, replayed exactly —
    // integer weight/total arithmetic plus one correctly-rounded IEEE
    // multiply/divide chain, then the Knuth bucket filter.
    // Domain mixture weights (DoReMi-style temperature reweighting):
    // per-source token volume -> alpha-scaled sampling weight, shipped as
    // all-integer parts-per-million (raw_w*1e6 div sum) so the oracle is
    // exact with no float-rounding fine print.
    "samp_domain_weights" -> ((
      (s: SparkSession, d: String) =>
        Sampling.domainMixtureWeights(t(s, d, "documents"), "source", "text", alpha = 0.5)
          .orderBy(col("domain")),
      Some("""WITH agg AS (
             |  SELECT source AS domain, COUNT(*) AS n_docs,
             |    CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
             |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT) AS total_tokens
             |  FROM documents GROUP BY 1),
             |w AS (SELECT domain, n_docs, total_tokens,
             |  CAST(ROUND(POW(CAST(total_tokens AS DOUBLE), 0.5), 0) AS BIGINT) AS raw_w FROM agg),
             |tot AS (SELECT CAST(SUM(raw_w) AS BIGINT) AS sw FROM w)
             |SELECT domain, n_docs, total_tokens, raw_w,
             |  CAST((raw_w * 1000000) // sw AS BIGINT) AS weight_ppm
             |FROM w CROSS JOIN tot ORDER BY domain""".stripMargin))),

    // Deterministic epoch shuffle: epoch-keyed Knuth permutation ->
    // (shard, pos) training order; the only wide op is the per-shard
    // window, so shards order independently at scale.
    "samp_shuffle" -> ((
      (s: SparkSession, d: String) =>
        Sampling.epochShuffle(t(s, d, "documents").select(col("doc_id")),
            "doc_id", epoch = 1, nShards = 8, verifiable = true)
          .orderBy(col("shard"), col("pos")),
      Some("""WITH b AS (
             |  SELECT doc_id,
             |    ((doc_id % 1000000 + 7919) % 1000000 * 2654435761) % 1000000 AS hb
             |  FROM documents)
             |SELECT doc_id, CAST(hb % 8 AS BIGINT) AS shard,
             |  CAST(ROW_NUMBER() OVER (PARTITION BY hb % 8 ORDER BY hb, doc_id) AS BIGINT) AS pos
             |FROM b ORDER BY shard, pos""".stripMargin))),

    "samp_temperature" -> ((
      (s: SparkSession, d: String) =>
        Sampling.temperatureSample(
            t(s, d, "documents").select(col("doc_id"), col("lang")),
            "lang", "doc_id", alpha = 0.5, targetFraction = 0.3, verifiable = true)
          .orderBy(col("doc_id")),
      Some(s"""WITH cnt AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang),
              |w AS (SELECT lang, c,
              |  CAST(ROUND(POW(CAST(c AS DOUBLE), 0.5), 0) AS BIGINT) AS w FROM cnt),
              |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(SUM(w) AS BIGINT) AS sw FROM w),
              |r AS (SELECT lang,
              |  CAST(FLOOR(LEAST(1.0,
              |    (0.3 * CAST(n AS DOUBLE) * CAST(w AS DOUBLE)) / CAST(sw * c AS DOUBLE))
              |    * 1000000.0) AS BIGINT) AS thr
              |  FROM w CROSS JOIN tot)
              |SELECT d.doc_id, d.lang FROM documents d JOIN r ON d.lang = r.lang
              |WHERE ${knuthBucketSql("doc_id")} < r.thr
              |ORDER BY d.doc_id""".stripMargin))),

    // Token-budget packing: per-shard concat-then-split placement — the
    // windowed cumulative sum is SUM(...) OVER in both engines. The
    // DuckDB sum is CAST back to BIGINT (DuckDB widens integer SUM to
    // HUGEINT, which the driver's hasher encodes differently).
    "samp_pack" -> ((
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
          .select(col("doc_id"), pmod(col("doc_id"), lit(8)).as("shard"),
            TextAnalysis.tokenCount("text").as("tokens"))
        Sampling.packByTokenBudget(docs, "shard", "doc_id", "tokens", budget = 512)
          .orderBy(col("doc_id"))
      },
      Some("""WITH tk AS (
             |  SELECT doc_id, doc_id % 8 AS shard,
             |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
             |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS INTEGER) AS tokens
             |  FROM documents),
             |p AS (
             |  SELECT doc_id, shard, tokens,
             |    CAST(SUM(tokens) OVER (PARTITION BY shard ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tokens AS BIGINT) AS strt
             |  FROM tk)
             |SELECT doc_id, shard, tokens,
             |  CAST(FLOOR(strt / 512.0) AS BIGINT) AS chunk, strt % 512 AS offset
             |FROM p ORDER BY doc_id""".stripMargin))))

  /** doc_repetition oracle: n-grams by list indexing over the filtered
    * token array, per-id argmax by (count DESC, gram ASC) via ROW_NUMBER,
    * duplicated-gram coverage as a filtered sum; ratios on ROUND(...,6)
    * of an exact-integer-over-integer double division. */
  private def repetitionOracleSql(topNs: Seq[Int], dupNs: Seq[Int]): String = {
    def gramCte(n: Int): String = {
      val parts = (0 until n).map(j => s"ts[CAST(i AS INTEGER) + $j]").mkString(" || ' ' || ")
      s"""c$n AS (
         |  SELECT id, g, COUNT(*) AS c FROM (
         |    SELECT id, $parts AS g
         |    FROM base, unnest(range(1, len(ts) - ${n - 2})) AS t(i))
         |  GROUP BY id, g)""".stripMargin
    }
    val topCtes = topNs.map { n =>
      s"""top$n AS (
         |  SELECT id, c * length(g) AS cover FROM (
         |    SELECT id, g, c,
         |      ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, g) AS rn
         |    FROM c$n) WHERE rn = 1)""".stripMargin
    }
    val dupCtes = dupNs.map { n =>
      s"""dup$n AS (
         |  SELECT id, SUM(c * length(g)) AS cover FROM c$n
         |  WHERE c > 1 GROUP BY id)""".stripMargin
    }
    val ns = (topNs ++ dupNs).distinct.sorted
    val joins = (topNs.map(n => s"LEFT JOIN top$n ON base.id = top$n.id") ++
      dupNs.map(n => s"LEFT JOIN dup$n ON base.id = dup$n.id")).mkString("\n")
    val outCols = (topNs.map(n =>
        s"CASE WHEN chars > 0 THEN ROUND(coalesce(top$n.cover, 0) / CAST(chars AS DOUBLE), 6) ELSE 0.0 END AS top${n}_char_ratio") ++
      dupNs.map(n =>
        s"CASE WHEN chars > 0 THEN ROUND(coalesce(dup$n.cover, 0) / CAST(chars AS DOUBLE), 6) ELSE 0.0 END AS dup${n}_char_ratio"))
      .mkString(",\n  ")
    s"""WITH base AS (
       |  SELECT doc_id AS id, length(trim(coalesce(text,''))) AS chars,
       |    list_filter(regexp_split_to_array(lower(trim(coalesce(text,''))), '\\s+'),
       |      x -> len(x) > 0) AS ts
       |  FROM documents),
       |${ns.map(gramCte).mkString(",\n")},
       |${(topCtes ++ dupCtes).mkString(",\n")}
       |SELECT base.id,
       |  $outCols
       |FROM base
       |$joins
       |ORDER BY base.id""".stripMargin
  }

  /** Exact near-duplicate-pair ground truth: all-pairs jaccard over
    * distinct char-k-shingles (charShingle=true) or word-k-grams of the
    * normalized text. Division int/int→double is bit-identical across
    * engines, so ROUND(...,6) matches exactly. */
  private def jaccardGroundTruthSql(charShingle: Boolean, k: Int, threshold: Double): String = {
    val posting =
      if (charShingle)
        s"""norm AS (
           |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS n
           |  FROM documents
           |  WHERE length(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) >= $k),
           |sh AS (
           |  SELECT DISTINCT doc_id, substr(n, CAST(i AS INTEGER), $k) AS s
           |  FROM norm, UNNEST(range(1, length(n) - ${k - 2})) AS t(i))""".stripMargin
      else {
        val parts = (0 until k).map(j => s"ts[CAST(i AS INTEGER) + $j]").mkString(" || ' ' || ")
        s"""toks AS (
           |  SELECT doc_id,
           |    list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> len(x) > 0) AS ts
           |  FROM documents),
           |sh AS (
           |  SELECT DISTINCT doc_id, $parts AS s
           |  FROM toks, UNNEST(range(1, len(ts) - ${k - 2})) AS t(i)
           |  WHERE len(ts) >= $k)""".stripMargin
      }
    s"""WITH $posting,
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS idA, b.doc_id AS idB, COUNT(*) AS i
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT idA, idB,
       |  CAST(ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS DOUBLE) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = idA JOIN sizes sb ON sb.doc_id = idB
       |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= $threshold
       |ORDER BY idA, idB""".stripMargin
  }

  /** Near-dup cluster oracle: the exact-jaccard pair list (same CTEs as
    * [[jaccardGroundTruthSql]]) closed transitively with a recursive walk
    * — MIN(reaching id) per member is the component's canonical id. */
  private def clusterOracleSql(k: Int, threshold: Double): String = {
    val pairBody = jaccardGroundTruthSql(charShingle = true, k = k, threshold = threshold)
    // reuse the full pair query as a CTE; DuckDB allows nested WITH in a CTE body
    s"""WITH RECURSIVE pr AS ($pairBody),
       |e AS (SELECT idA AS a, idB AS b FROM pr UNION ALL SELECT idB, idA FROM pr),
       |walk(id, r) AS (
       |  SELECT DISTINCT a, a FROM e
       |  UNION
       |  SELECT e.b, w.r FROM walk w JOIN e ON e.a = w.id
       |)
       |SELECT id, MIN(r) AS canonical FROM walk GROUP BY id ORDER BY id""".stripMargin
  }

  /** doc_chunk oracle: identical window arithmetic over the token list —
    * nChunks = max(1, ceil((n - overlap)/stride)), chunk i =
    * list_slice(toks, i*stride+1, i*stride+maxTokens). */
  private def chunkOracleSql(maxTokens: Int, overlap: Int): String = {
    val stride = maxTokens - overlap
    s"""WITH toks AS (
       |  SELECT doc_id AS id,
       |    list_filter(regexp_split_to_array(trim(coalesce(text,'')), '\\s+'),
       |      x -> len(x) > 0) AS ts
       |  FROM documents),
       |sized AS (
       |  SELECT id, ts,
       |    CASE WHEN len(ts) = 0 THEN 0
       |      ELSE GREATEST(1, CAST(ceil(CAST(len(ts) - $overlap AS DOUBLE) / $stride) AS INTEGER))
       |    END AS n
       |  FROM toks),
       |chunks AS (
       |  SELECT id, CAST(i AS INTEGER) AS chunk_no,
       |    list_slice(ts, CAST(i AS INTEGER) * $stride + 1,
       |      CAST(i AS INTEGER) * $stride + $maxTokens) AS c
       |  FROM sized, unnest(range(CAST(n AS BIGINT))) AS t(i)
       |  WHERE n > 0)
       |SELECT id, chunk_no, array_to_string(c, ' ') AS chunk,
       |  CAST(len(c) AS INTEGER) AS n_tokens
       |FROM chunks ORDER BY id, chunk_no""".stripMargin
  }

  /** doc_compact oracle: transitive closure of the exact-jaccard pair
    * list (the clusterOracleSql walk), then documents minus non-canonical
    * members. */
  private def compactOracleSql(k: Int, threshold: Double): String = {
    val pairBody = jaccardGroundTruthSql(charShingle = true, k = k, threshold = threshold)
    s"""WITH RECURSIVE pr AS ($pairBody),
       |e AS (SELECT idA AS a, idB AS b FROM pr UNION ALL SELECT idB, idA FROM pr),
       |walk(id, r) AS (
       |  SELECT DISTINCT a, a FROM e
       |  UNION
       |  SELECT e.b, w.r FROM walk w JOIN e ON e.a = w.id
       |),
       |losers AS (
       |  SELECT id FROM (SELECT id, MIN(r) AS canonical FROM walk GROUP BY id)
       |  WHERE id <> canonical)
       |SELECT doc_id FROM documents
       |WHERE doc_id NOT IN (SELECT id FROM losers)
       |ORDER BY doc_id""".stripMargin
  }

  /** doc_dedup_keep_best oracle: the compactOracleSql closure, with the
    * winner per component picked by the house token count (DESC, id ASC)
    * instead of the minimum id. */
  private def compactBestOracleSql(k: Int, threshold: Double): String = {
    val pairBody = jaccardGroundTruthSql(charShingle = true, k = k, threshold = threshold)
    s"""WITH RECURSIVE pr AS ($pairBody),
       |e AS (SELECT idA AS a, idB AS b FROM pr UNION ALL SELECT idB, idA FROM pr),
       |walk(id, r) AS (
       |  SELECT DISTINCT a, a FROM e
       |  UNION
       |  SELECT e.b, w.r FROM walk w JOIN e ON e.a = w.id
       |),
       |cl AS (SELECT id, MIN(r) AS canonical FROM walk GROUP BY id),
       |sc AS (
       |  SELECT cl.id, cl.canonical,
       |    CAST(CASE WHEN length(trim(d.text)) = 0 THEN 0
       |      ELSE len(regexp_split_to_array(trim(d.text), '\\s+')) END AS INTEGER) AS score
       |  FROM cl JOIN documents d ON d.doc_id = cl.id),
       |rk AS (SELECT id, ROW_NUMBER() OVER (
       |    PARTITION BY canonical ORDER BY score DESC, id) AS rk FROM sc),
       |losers AS (SELECT id FROM rk WHERE rk > 1)
       |SELECT doc_id FROM documents
       |WHERE doc_id NOT IN (SELECT id FROM losers)
       |ORDER BY doc_id""".stripMargin
  }

  /** doc_pii_scrub oracle: the same ordered regex chain — each category
    * counts on the previous category's output, then redacts. */
  private def piiOracleSql: String = {
    val steps = TextAnalysis.piiPatterns.zipWithIndex
    // chained CTEs: each category counts on the previous category's
    // output text, carrying earlier counts forward (DuckDB
    // regexp_replace needs the 'g' flag for replace-all)
    val chain = steps.map { case ((name, p), i) =>
      val src = if (i == 0) "base" else s"s${i - 1}"
      val carried = steps.take(i).map { case ((n2, _), _) => s"n_$n2" } match {
        case Nil => ""
        case xs => xs.mkString(", ", ", ", "")
      }
      s"""s$i AS (SELECT doc_id$carried,
         |  CAST(len(regexp_extract_all(t, '$p')) AS BIGINT) AS n_$name,
         |  regexp_replace(t, '$p', '[${name.toUpperCase}]', 'g') AS t
         |FROM $src)""".stripMargin
    }.mkString(",\n")
    val names = steps.map { case ((n2, _), _) => s"n_$n2" }.mkString(", ")
    s"""WITH base AS (SELECT doc_id, coalesce(text,'') AS t FROM documents),
       |$chain
       |SELECT doc_id AS id, t AS text, $names
       |FROM s${steps.length - 1} ORDER BY id""".stripMargin
  }

  /** TF-IDF oracle: identical tokenize/tf/df/ln pipeline; ranking on the
    * 4-decimal-rounded score exactly as the Spark side ranks. */
  private def tfidfOracleSql(k: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_filter(
       |    regexp_split_to_array(lower(trim(text)), '\\s+'), x -> len(x) > 0)) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
       |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n FROM documents),
       |scored AS (
       |  SELECT doc_id AS id, tf.term,
       |    CAST(ROUND(tf * LN(CAST(n.n AS DOUBLE) / df), 4) AS DOUBLE) AS tfidf
       |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n),
       |ranked AS (
       |  SELECT id, term, tfidf,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY id ORDER BY tfidf DESC, term) AS INT) AS rank
       |  FROM scored)
       |SELECT id, term, tfidf, rank FROM ranked WHERE rank <= $k
       |ORDER BY id, rank""".stripMargin

  /** Contamination oracle: replay 3-gram construction for corpus and
    * eval-set sides on raw gram strings, probe membership, count distinct
    * grams and hits per document. */
  private def contaminationOracleSql(n: Int, modulus: Int): String = {
    val parts = (0 until n).map(j => s"ts[CAST(i AS INTEGER) + $j]").mkString(" || ' ' || ")
    def grams(src: String) =
      s"""SELECT DISTINCT doc_id, $parts AS g
         |  FROM (SELECT doc_id, list_filter(
         |          regexp_split_to_array(lower(trim(text)), '\\s+'), x -> len(x) > 0) AS ts
         |        FROM $src),
         |    UNNEST(range(1, len(ts) - ${n - 2})) t(i)
         |  WHERE len(ts) >= $n""".stripMargin
    s"""WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % $modulus <> 0),
       |bench AS (SELECT doc_id, text FROM documents WHERE doc_id % $modulus = 0),
       |cg AS (${grams("corpus")}),
       |bg AS (SELECT DISTINCT g FROM (${grams("bench")})),
       |tot AS (SELECT doc_id, COUNT(*) AS grams FROM cg GROUP BY 1),
       |hit AS (SELECT doc_id, COUNT(*) AS hits FROM cg WHERE g IN (SELECT g FROM bg) GROUP BY 1)
       |SELECT c.doc_id AS id, COALESCE(tot.grams, 0) AS grams, COALESCE(hit.hits, 0) AS hits,
       |  CAST(ROUND(CASE WHEN COALESCE(tot.grams, 0) > 0
       |    THEN CAST(COALESCE(hit.hits, 0) AS DOUBLE) / tot.grams ELSE 0.0 END, 6) AS DOUBLE)
       |    AS contamination
       |FROM corpus c
       |LEFT JOIN tot ON tot.doc_id = c.doc_id
       |LEFT JOIN hit ON hit.doc_id = c.doc_id
       |ORDER BY id""".stripMargin
  }

  /** emb_pq_adc oracle: PQ replayed end to end — seed codebook from the
    * k smallest ids, per-subspace argmin codes (squared-L2 via an
    * in-order list fold, ties → smallest code), per-query LUT, ADC as an
    * explicit left-associated m-term add. Every float op is the same
    * IEEE op in the same order as the Spark side. */
  private def pqAdcOracleSql(m: Int, k: Int, dim: Int, topK: Int): String = {
    val sd = dim / m
    val sqd = (a: String, b: String) =>
      s"list_sum(list_transform(list_zip($a, $b), x -> (x[1]-x[2])*(x[1]-x[2])))"
    val codeCols = (0 until m)
      .map(j => s"MAX(CASE WHEN sub = $j THEN code END) AS c$j").mkString(",\n    ")
    val lutJoins = (0 until m).map { j =>
      val extra = if (j == 0) "" else " AND l$j.qid = l0.qid".replace("$j", j.toString)
      s"JOIN lut l$j ON l$j.sub = $j AND l$j.code = cp.c$j$extra"
    }.mkString("\n  ")
    val adc = (1 until m).foldLeft("l0.pd")((acc, j) => s"($acc + l$j.pd)")
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       |seeds AS MATERIALIZED (SELECT vec, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
       |  FROM (SELECT * FROM c ORDER BY vec_id LIMIT $k)),
       |cb AS MATERIALIZED (SELECT CAST(j AS INTEGER) AS sub, code,
       |    vec[CAST(j AS INTEGER)*$sd + 1 : CAST(j AS INTEGER)*$sd + $sd] AS cvec
       |  FROM seeds, UNNEST(range(0, $m)) t(j)),
       |sv AS MATERIALIZED (SELECT vec_id, CAST(j AS INTEGER) AS sub,
       |    vec[CAST(j AS INTEGER)*$sd + 1 : CAST(j AS INTEGER)*$sd + $sd] AS svec
       |  FROM c, UNNEST(range(0, $m)) t(j)),
       |dist AS (SELECT sv.vec_id, sv.sub, cb.code, ${sqd("sv.svec", "cb.cvec")} AS dd
       |  FROM sv JOIN cb ON sv.sub = cb.sub),
       |codes AS MATERIALIZED (SELECT vec_id, sub, code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dd, code) AS rn
       |    FROM dist) WHERE rn = 1),
       |cp AS MATERIALIZED (SELECT vec_id,
       |    $codeCols
       |  FROM codes GROUP BY vec_id),
       |qs AS (SELECT vec_id AS qid, sub, svec FROM sv WHERE vec_id < 5),
       |lut AS MATERIALIZED (SELECT qs.qid, qs.sub, cb.code, ${sqd("qs.svec", "cb.cvec")} AS pd
       |  FROM qs JOIN cb ON qs.sub = cb.sub),
       |scored AS (SELECT l0.qid, cp.vec_id, $adc AS adc
       |  FROM cp
       |  $lutJoins),
       |rk AS (SELECT qid, vec_id, adc,
       |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rank FROM scored)
       |SELECT qid, vec_id AS id, CAST(ROUND(adc, 6) AS DOUBLE) AS adc, rank
       |FROM rk WHERE rank <= $topK ORDER BY qid, rank""".stripMargin
  }

  /** doc_fuzzy_contamination oracle: EXACT cross-side all-pairs shingle
    * jaccard between the %modulus corpus/benchmark split — the
    * doc_minhash_pairs full-recall ground-truth contract, with the two
    * sides from different slices instead of a self-join. */
  private def crossJaccardOracleSql(k: Int, threshold: Double, modulus: Int): String =
    s"""WITH norm AS (
       |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS n
       |  FROM documents
       |  WHERE length(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) >= $k),
       |sh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, substr(n, CAST(i AS INTEGER), $k) AS s
       |  FROM norm, UNNEST(range(1, length(n) - ${k - 2})) AS t(i)),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS idA, b.doc_id AS idB, COUNT(*) AS i
       |  FROM sh a JOIN sh b ON a.s = b.s
       |  WHERE a.doc_id % $modulus <> 0 AND b.doc_id % $modulus = 0
       |  GROUP BY 1, 2)
       |SELECT idA, idB,
       |  CAST(ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS DOUBLE) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = idA JOIN sizes sb ON sb.doc_id = idB
       |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= $threshold
       |ORDER BY idA, idB""".stripMargin

  /** doc_c4_filters oracle: the same line keep-predicate chain replayed
    * with DuckDB list lambdas; clean_text compares the rebuilt document
    * verbatim. */
  private def c4FiltersOracleSql(minLineWords: Int, minKeptLines: Int): String =
    s"""WITH base AS (SELECT doc_id,
       |  replace(COALESCE(text, ''), ' table ', '.' || chr(10) || 'table ') || '.' ||
       |  chr(10) || 'please enable javascript to view this page properly.' ||
       |  CASE WHEN doc_id % 7 = 0
       |    THEN chr(10) || 'lorem ipsum dolor sit amet consectetur.' ELSE '' END ||
       |  CASE WHEN doc_id % 11 = 0
       |    THEN chr(10) || 'function f() { return 1; }' ELSE '' END AS t
       |  FROM documents),
       |l AS (SELECT doc_id, t, string_split(t, chr(10)) AS lines FROM base),
       |k AS (SELECT doc_id, t, lines,
       |  list_filter(lines, x ->
       |    right(rtrim(x), 1) IN ('.', '!', '?', '"')
       |    AND len(list_filter(regexp_split_to_array(trim(x), '\\s+'),
       |          y -> len(y) > 0)) >= $minLineWords
       |    AND NOT contains(lower(x), 'javascript')) AS kept
       |  FROM l)
       |SELECT doc_id AS id,
       |  CAST(len(lines) AS BIGINT) AS line_total,
       |  CAST(len(kept) AS BIGINT) AS lines_kept,
       |  CAST(ROUND(CASE WHEN len(lines) > 0
       |    THEN CAST(len(kept) AS DOUBLE) / len(lines) ELSE 0.0 END, 6) AS DOUBLE)
       |    AS kept_ratio,
       |  contains(lower(t), 'lorem ipsum') AS has_lorem_ipsum,
       |  contains(t, '{') AS has_curly,
       |  (len(kept) >= $minKeptLines AND NOT contains(lower(t), 'lorem ipsum')
       |    AND NOT contains(t, '{')) AS c4_pass,
       |  COALESCE(array_to_string(kept, chr(10)), '') AS clean_text
       |FROM k ORDER BY doc_id""".stripMargin

  /** doc_span_dedup oracle: identical framing, '.'-split sentences with
    * re-indexed adjacency, lead()-window span assembly, global
    * first-occurrence rank per span string (ROW_NUMBER over (doc, pos) —
    * rn ≥ 2 marks its sentences), ordered rebuild of survivors. */
  private def spanDedupOracleSql: String =
    s"""WITH framed AS (SELECT doc_id,
       |  replace(COALESCE(text, ''), ' table ', '. table ') ||
       |  '. one shared sentence alpha. two shared sentence beta' ||
       |  '. three shared sentence gamma. four shared sentence delta.' AS t
       |  FROM documents),
       |rawseg AS (SELECT doc_id, CAST(i AS INTEGER) AS pos,
       |    trim(ss[CAST(i AS INTEGER)]) AS s
       |  FROM (SELECT doc_id, string_split(t, '.') AS ss FROM framed),
       |    UNNEST(range(1, len(ss) + 1)) u(i)),
       |seg AS (SELECT doc_id, pos, s FROM rawseg WHERE length(s) > 0),
       |sent AS MATERIALIZED (SELECT doc_id,
       |  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS sidx, s
       |  FROM seg),
       |sp AS MATERIALIZED (SELECT doc_id, sidx, s || '.' || l1 || '.' || l2 AS span
       |  FROM (SELECT doc_id, sidx, s,
       |      LEAD(s, 1) OVER (PARTITION BY doc_id ORDER BY sidx) AS l1,
       |      LEAD(s, 2) OVER (PARTITION BY doc_id ORDER BY sidx) AS l2
       |    FROM sent)
       |  WHERE l1 IS NOT NULL AND l2 IS NOT NULL),
       |rk AS (SELECT doc_id, sidx,
       |  ROW_NUMBER() OVER (PARTITION BY span ORDER BY doc_id, sidx) AS rn FROM sp),
       |marked AS (SELECT DISTINCT doc_id, sidx + d AS sidx
       |  FROM rk, UNNEST([0, 1, 2]) t(d) WHERE rn >= 2),
       |kepts AS (SELECT s.doc_id, s.sidx, s.s FROM sent s
       |  LEFT JOIN marked m ON s.doc_id = m.doc_id AND s.sidx = m.sidx
       |  WHERE m.doc_id IS NULL),
       |agg AS (SELECT doc_id, string_agg(s, '. ' ORDER BY sidx) AS text,
       |  COUNT(*) AS kept FROM kepts GROUP BY 1),
       |tot AS (SELECT doc_id, COUNT(*) AS total FROM sent GROUP BY 1)
       |SELECT d.doc_id AS id, COALESCE(agg.text, '') AS text,
       |  CAST(COALESCE(tot.total, 0) - COALESCE(agg.kept, 0) AS BIGINT) AS removed
       |FROM documents d
       |LEFT JOIN tot ON tot.doc_id = d.doc_id
       |LEFT JOIN agg ON agg.doc_id = d.doc_id
       |ORDER BY id""".stripMargin

  /** Line-dedup oracle: identical framing, line split with position,
    * distinct-document line frequency, ordered rebuild of survivors. */
  private def lineDedupOracleSql(minDocFreq: Long): String =
    s"""WITH framed AS (
       |  SELECT doc_id, '<<header>>' || chr(10) || text ||
       |    CASE WHEN doc_id % 2 = 0 THEN chr(10) || '<<even-footer>>' ELSE '' END AS ftext
       |  FROM documents),
       |lines AS (
       |  SELECT doc_id, CAST(i AS INTEGER) AS pos, ls[CAST(i AS INTEGER)] AS l
       |  FROM (SELECT doc_id, string_split(ftext, chr(10)) AS ls FROM framed),
       |    UNNEST(range(1, len(ls) + 1)) t(i)),
       |dfreq AS (SELECT l, COUNT(DISTINCT doc_id) AS df FROM lines GROUP BY 1),
       |kept AS (
       |  SELECT doc_id, string_agg(l, chr(10) ORDER BY pos) AS text, COUNT(*) AS kept
       |  FROM lines JOIN dfreq USING (l) WHERE df < $minDocFreq GROUP BY doc_id),
       |tot AS (SELECT doc_id, COUNT(*) AS total FROM lines GROUP BY 1)
       |SELECT f.doc_id AS id, COALESCE(kept.text, '') AS text,
       |  tot.total - COALESCE(kept.kept, 0) AS removed
       |FROM framed f
       |JOIN tot ON tot.doc_id = f.doc_id
       |LEFT JOIN kept ON kept.doc_id = f.doc_id
       |ORDER BY id""".stripMargin

  /** langId oracle: replicate marker counting + argmax tie-break exactly. */
  private def langIdOracleSql: String = {
    def hits(w: String) =
      s"(length(p) - length(replace(p, ' $w ', ' '))) / ${w.length + 1}"
    val scores = TextAnalysis.langMarkers.toSeq.sortBy(_._1).map { case (lang, ws) =>
      lang -> ws.map(hits).mkString(" + ")
    }
    val scoreDefs = scores.map { case (l, e) => s"CAST($e AS BIGINT) AS s_$l" }.mkString(",\n")
    val best = "GREATEST(" + scores.map(s => "s_" + s._1).mkString(", ") + ")"
    val cases = scores.map { case (l, _) =>
      s"WHEN s_$l = best AND best > 0 THEN '$l'"
    }.mkString("\n")
    s"""WITH padded AS (
       |  SELECT doc_id, ' ' || regexp_replace(lower(text), '\\s+', ' ', 'g') || ' ' AS p
       |  FROM documents),
       |scored AS (SELECT doc_id, $scoreDefs FROM padded),
       |withbest AS (SELECT *, $best AS best FROM scored)
       |SELECT doc_id, CASE $cases ELSE 'unknown' END AS lang
       |FROM withbest ORDER BY doc_id""".stripMargin
  }

  /** doc_corpus_stats oracle: langid + token count + per-doc quality
    * composed, grouped by language; quality averaged through an exact
    * DECIMAL(18,6) sum (order-insensitive) like the Spark side. */
  private def corpusStatsOracleSql: String = {
    def hits(w: String) =
      s"(length(p) - length(replace(p, ' $w ', ' '))) / ${w.length + 1}"
    val scores = TextAnalysis.langMarkers.toSeq.sortBy(_._1).map { case (lang, ws) =>
      lang -> ws.map(hits).mkString(" + ")
    }
    val scoreDefs = scores.map { case (l, e) => s"CAST($e AS BIGINT) AS s_$l" }.mkString(",\n")
    val best = "GREATEST(" + scores.map(s => "s_" + s._1).mkString(", ") + ")"
    val cases = scores.map { case (l, _) =>
      s"WHEN s_$l = best AND best > 0 THEN '$l'"
    }.mkString("\n")
    val stop = TextAnalysis.langMarkers("en")
      .map(w => s"(length(p) - length(replace(p, ' $w ', ' '))) / ${w.length + 1}")
      .mkString(" + ")
    s"""WITH base AS (
       |  SELECT doc_id, text,
       |    CAST(length(text) AS DOUBLE) AS len,
       |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
       |    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS punct,
       |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
       |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS DOUBLE) AS toks,
       |    ' ' || regexp_replace(lower(text), '\\s+', ' ', 'g') || ' ' AS p
       |  FROM documents),
       |scored AS (SELECT doc_id, toks, p, $scoreDefs,
       |    -- exact micro-unit weighting, mirrors TextAnalysis.withQuality
       |    CAST((LEAST(GREATEST(
       |        CAST(ROUND(ROUND(CASE WHEN len > 0 THEN alpha / len ELSE 0 END, 6) * 1000000) AS BIGINT) * 5 +
       |        LEAST(CAST(ROUND(ROUND(CASE WHEN toks > 0 THEN CAST($stop AS DOUBLE) / toks ELSE 0 END, 6) * 1000000) AS BIGINT) * 2, 1000000) * 3 +
       |        (1000000 - LEAST(CAST(ROUND(ROUND(CASE WHEN len > 0 THEN punct / len ELSE 0 END, 6) * 1000000) AS BIGINT) * 5, 1000000)) * 2,
       |      0), 10000000) + 5) // 10 AS DOUBLE) / 1000000.0 AS q
       |  FROM base),
       |withbest AS (SELECT *, $best AS best FROM scored),
       |labeled AS (
       |  SELECT CASE $cases ELSE 'unknown' END AS lang,
       |    CAST(toks AS BIGINT) AS tk, q
       |  FROM withbest)
       |SELECT lang, count(*) AS n_docs, CAST(sum(tk) AS BIGINT) AS total_tokens,
       |  ROUND(CAST(sum(tk) AS DOUBLE) / count(*), 6) AS avg_tokens,
       |  ROUND(CAST(sum(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_quality
       |FROM labeled GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** quality oracle: mirror of TextAnalysis.withQuality. */
  /** doc_gopher oracle: every rule replayed in DuckDB — token-list
    * lambdas for the word measures, a line-unnest + count CTE for the
    * duplicate-line character fraction, LIKE-containment for stop hits. */
  private def gopherOracleSql: String = {
    val stopHits = TextAnalysis.langMarkers("en")
      .map(w => s"(CASE WHEN p LIKE '% $w %' THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH base AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(trim(coalesce(text,'')), '\\s+'),
       |      x -> len(x) > 0) AS toks,
       |    string_split(coalesce(text,''), chr(10)) AS lines,
       |    coalesce(text,'') AS t,
       |    ' ' || regexp_replace(lower(coalesce(text,'')), '\\s+', ' ', 'g') || ' ' AS p
       |  FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    CAST(len(toks) AS BIGINT) AS word_count,
       |    CAST(len(toks) AS DOUBLE) AS wc,
       |    CAST(coalesce(list_sum(list_transform(toks, x -> len(x))), 0) AS DOUBLE) AS charsum,
       |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) AS alphaw,
       |    CAST(length(t) - length(replace(t, '#', '')) AS DOUBLE) AS hashes,
       |    CAST((length(t) - length(replace(t, '...', ''))) / 3 AS DOUBLE) AS ell,
       |    CAST(len(lines) AS DOUBLE) AS lc,
       |    CAST(len(list_filter(lines, l -> substring(ltrim(l), 1, 1) IN ('-', '*', '•')))
       |      AS DOUBLE) AS bullets,
       |    CAST(len(list_filter(lines, l -> ends_with(rtrim(l), '...')
       |      OR ends_with(rtrim(l), '…'))) AS DOUBLE) AS ellLines,
       |    CAST($stopHits AS BIGINT) AS stop_hits
       |  FROM base),
       |dl AS (
       |  SELECT doc_id, trim(l) AS l
       |  FROM (SELECT doc_id, unnest(string_split(coalesce(text,''), chr(10))) AS l
       |        FROM documents)
       |  WHERE length(trim(l)) > 0),
       |dg AS (SELECT doc_id, l, count(*) AS c, length(l) AS ln FROM dl GROUP BY 1, 2),
       |da AS (SELECT doc_id,
       |    ROUND(CAST(sum(CASE WHEN c > 1 THEN c * ln ELSE 0 END) AS DOUBLE)
       |      / CAST(sum(c * ln) AS DOUBLE), 6) AS dup_line_char_ratio
       |  FROM dg GROUP BY 1),
       |r AS (
       |  SELECT m.doc_id AS id,
       |    word_count,
       |    ROUND(CASE WHEN wc > 0 THEN charsum / wc ELSE 0 END, 6) AS mean_word_len,
       |    ROUND(CASE WHEN wc > 0 THEN alphaw / wc ELSE 0 END, 6) AS alpha_word_ratio,
       |    ROUND(CASE WHEN wc > 0 THEN (hashes + ell) / wc ELSE 0 END, 6) AS symbol_word_ratio,
       |    ROUND(CASE WHEN lc > 0 THEN bullets / lc ELSE 0 END, 6) AS bullet_ratio,
       |    ROUND(CASE WHEN lc > 0 THEN ellLines / lc ELSE 0 END, 6) AS ellipsis_ratio,
       |    coalesce(da.dup_line_char_ratio, 0.0) AS dup_line_char_ratio,
       |    stop_hits
       |  FROM m LEFT JOIN da ON m.doc_id = da.doc_id)
       |SELECT id, word_count, mean_word_len, alpha_word_ratio, symbol_word_ratio,
       |  bullet_ratio, ellipsis_ratio, dup_line_char_ratio, stop_hits,
       |  (word_count BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
       |   AND symbol_word_ratio <= 0.1 AND bullet_ratio <= 0.9
       |   AND ellipsis_ratio <= 0.3 AND alpha_word_ratio >= 0.8
       |   AND stop_hits >= 2 AND dup_line_char_ratio <= 0.2) AS gopher_pass
       |FROM r ORDER BY id""".stripMargin
  }

  private def qualityOracleSql: String = qualityScoreSql + "\nORDER BY doc_id"

  /** Full per-doc quality statement (no ORDER BY) — shared by the
    * doc_quality oracle and the percentile-filter oracle, which nests it
    * as a CTE subquery. */
  private def qualityScoreSql: String = qualityScoreSql("documents")

  private def qualityScoreSql(rel: String): String = {
    val stop = TextAnalysis.langMarkers("en")
      .map(w => s"(length(p) - length(replace(p, ' $w ', ' '))) / ${w.length + 1}")
      .mkString(" + ")
    s"""WITH base AS (
       |  SELECT doc_id, text,
       |    CAST(length(text) AS DOUBLE) AS len,
       |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
       |    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS punct,
       |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
       |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS DOUBLE) AS toks,
       |    ' ' || regexp_replace(lower(text), '\\s+', ' ', 'g') || ' ' AS p
       |  FROM $rel),
       |c AS (
       |  SELECT doc_id,
       |    ROUND(CASE WHEN len > 0 THEN alpha / len ELSE 0 END, 6) AS alpha_ratio,
       |    ROUND(CASE WHEN len > 0 THEN punct / len ELSE 0 END, 6) AS punct_ratio,
       |    ROUND(CASE WHEN toks > 0 THEN CAST($stop AS DOUBLE) / toks ELSE 0 END, 6) AS stopword_ratio,
       |    ROUND(CASE WHEN toks > 0 THEN len / toks ELSE 0 END, 6) AS avg_word_len
       |  FROM base)
       |SELECT doc_id, alpha_ratio, punct_ratio, stopword_ratio, avg_word_len,
       |  -- exact integer micro-unit weighting (see TextAnalysis.withQuality):
       |  -- 1e-7-grid sum, half-up to 1e-6 in BIGINT, one final double divide
       |  CAST((LEAST(GREATEST(
       |      CAST(ROUND(alpha_ratio * 1000000) AS BIGINT) * 5 +
       |      LEAST(CAST(ROUND(stopword_ratio * 1000000) AS BIGINT) * 2, 1000000) * 3 +
       |      (1000000 - LEAST(CAST(ROUND(punct_ratio * 1000000) AS BIGINT) * 5, 1000000)) * 2,
       |    0), 10000000) + 5) // 10 AS DOUBLE) / 1000000.0 AS quality_score
       |FROM c""".stripMargin
  }

  /** doc_quality_filter oracle: the same histogram percentile — smallest
    * score whose cumulative count reaches ceil(p*n) — over the nested
    * quality statement, then the inclusive filter. */
  private def qualityPercentileOracleSql(p: Double): String =
    s"""WITH qall AS MATERIALIZED (
       |  SELECT doc_id, quality_score FROM ($qualityScoreSql) qsub),
       |hist AS (SELECT quality_score AS s, COUNT(*) AS c FROM qall GROUP BY 1),
       |cum AS (SELECT s, CAST(SUM(c) OVER (ORDER BY s
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM hist),
       |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM hist),
       |thr AS (SELECT MIN(s) AS thr FROM cum CROSS JOIN tot WHERE cum >= CEIL($p * n))
       |SELECT doc_id, quality_score FROM qall CROSS JOIN thr
       |WHERE quality_score >= thr ORDER BY doc_id""".stripMargin

  /** SimHash brute-force oracle: recompute every doc's 64-bit signature
    * (md5-derived token bits, the exact definition in [[Dedup.simhash]])
    * and compare ALL pairs' hamming distance — no banding, so a green row
    * proves the banded candidate generation loses nothing. The signature
    * is carried as two 32-bit halves because DuckDB BIGINTs can't hold
    * 1<<63 via arithmetic construction. */
  private def simhashOracleSql(maxHamming: Int): String = {
    val votes = (0 until 64).map { b =>
      val d = s"(CASE WHEN ascii(substr(m, ${b / 4 + 1}, 1)) >= 97 " +
        s"THEN ascii(substr(m, ${b / 4 + 1}, 1)) - 87 " +
        s"ELSE ascii(substr(m, ${b / 4 + 1}, 1)) - 48 END)"
      s"SUM((($d >> ${b % 4}) & 1) * 2 - 1) AS v$b"
    }.mkString(",\n")
    val lo = (0 until 32).map(b => s"(CASE WHEN v$b >= 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    val hi = (32 until 64).map(b => s"(CASE WHEN v$b >= 0 THEN ${1L << (b - 32)} ELSE 0 END)").mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> len(x) > 0)) AS tok
       |  FROM documents),
       |h AS (SELECT doc_id, md5(tok) AS m FROM toks),
       |votes AS (SELECT doc_id, $votes FROM h GROUP BY doc_id),
       |sigs AS (SELECT doc_id, $lo AS lo, $hi AS hi FROM votes)
       |SELECT a.doc_id AS idA, b.doc_id AS idB,
       |  CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS INTEGER) AS hamming
       |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= $maxHamming
       |ORDER BY idA, idB""".stripMargin
  }

  /** Embedding-dedup oracle: identical planted-duplicate construction
    * (every 5th vector, per-element 1 ± 0.02 alternating), then ALL-PAIRS
    * brute-force cosine — proving the LSH path's recall, not just shape. */
  private def embCosineOracleSql(threshold: Double): String =
    s"""WITH base AS (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       |planted AS (
       |  SELECT -id - 1 AS id,
       |    list_transform(range(1, len(vec) + 1),
       |      i -> vec[CAST(i AS INTEGER)] * (1.0 + 0.02 * CAST(((i - 1) % 2) * 2 - 1 AS DOUBLE))) AS vec
       |  FROM base WHERE id % 5 = 0),
       |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted)
       |SELECT a.id AS idA, b.id AS idB,
       |  CAST(ROUND(list_cosine_similarity(a.vec, b.vec), 6) AS DOUBLE) AS cosine
       |FROM corpus a JOIN corpus b ON a.id < b.id
       |WHERE list_cosine_similarity(a.vec, b.vec) >= $threshold
       |ORDER BY idA, idB""".stripMargin

  /** emb_semdedup_exact oracle (k = 1 → full coverage): brute-force
    * all-pairs cosine pairs, transitive closure to min-id canonical,
    * total map over the corpus (unpaired rows map to themselves).
    * `idCap` bounds the deliberately-quadratic slice. */
  private def semDedupOracleSql(threshold: Double, idCap: Option[Int] = None): String =
    s"""WITH RECURSIVE base AS (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings${
           idCap.map(c => s" WHERE vec_id < $c").getOrElse("")}),
       |planted AS (
       |  SELECT -id - 1 AS id,
       |    list_transform(range(1, len(vec) + 1),
       |      i -> vec[CAST(i AS INTEGER)] * (1.0 + 0.02 * CAST(((i - 1) % 2) * 2 - 1 AS DOUBLE))) AS vec
       |  FROM base WHERE id % 5 = 0),
       |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
       |pr AS (
       |  SELECT a.id AS ia, b.id AS ib
       |  FROM corpus a JOIN corpus b ON a.id < b.id
       |  WHERE list_cosine_similarity(a.vec, b.vec) >= $threshold),
       |e AS (SELECT ia AS a, ib AS b FROM pr UNION ALL SELECT ib, ia FROM pr),
       |walk(id, r) AS (
       |  SELECT DISTINCT a, a FROM e
       |  UNION
       |  SELECT e.b, w.r FROM walk w JOIN e ON e.a = w.id
       |),
       |cl AS (SELECT id, MIN(r) AS canonical FROM walk GROUP BY id)
       |SELECT c.id, coalesce(cl.canonical, c.id) AS canonical
       |FROM corpus c LEFT JOIN cl ON c.id = cl.id
       |ORDER BY c.id""".stripMargin

  /** ml_train_linkpred oracle — deep replay of the ENTIRE training
    * pipeline in DuckDB: the GCN mean-aggregation layer (bit-exact —
    * integer-valued features, one correctly-rounded division, dyadic
    * weights, fixed-order fold: the ml_gcn_forward argument), the
    * Knuth-hash rotation negative sampler (exact 64-bit integer
    * arithmetic), Hadamard edge features with a /64 exponent-shift
    * rescale (exact), then `iters` UNROLLED full-batch logistic-GD
    * steps. The GD sums are order-dependent doubles and exp() may
    * differ by an ulp between engines, so the replayed weights agree to
    * ~1e-13 relative — the final scores are rounded to 6 decimals on
    * both sides, which absorbs that drift (the pagerank/katz rounding
    * precedent). Update arithmetic mirrors the engine exactly:
    * w' = w − (0.5·Σ)/n with the same association order. */
  private def linkpredTrainOracleSql(iters: Int): String = {
    def p(w: String) =
      s"1.0 / (1.0 + exp(-($w.b + ex.x0 * $w.a0 + ex.x1 * $w.a1)))"
    def gd(i: Int, rel: String): String = {
      val pw = s"w${i - 1}"
      s"""g$i AS (SELECT
         |    SUM((${p(pw)} - ex.label) * ex.x0) AS s0,
         |    SUM((${p(pw)} - ex.label) * ex.x1) AS s1,
         |    SUM(${p(pw)} - ex.label) AS sb,
         |    COUNT(*) AS n
         |  FROM $rel ex CROSS JOIN $pw),
         |w$i AS (SELECT $pw.a0 - 0.5 * g$i.s0 / g$i.n AS a0,
         |    $pw.a1 - 0.5 * g$i.s1 / g$i.n AS a1,
         |    $pw.b - 0.5 * g$i.sb / g$i.n AS b
         |  FROM $pw CROSS JOIN g$i)""".stripMargin
    }
    val steps = (1 to iters).map(gd(_, "ex")).mkString(",\n")
    s"""WITH ${linkpredPipelineCtes()},
       |w0 AS (SELECT 0.0 AS a0, 0.0 AS a1, 0.0 AS b),
       |$steps
       |SELECT ex.src, ex.dst, ex.label,
       |  ROUND(${p(s"w$iters")}, 6) AS score
       |FROM ex CROSS JOIN w$iters
       |ORDER BY ex.src, ex.dst""".stripMargin
  }

  /** ml_fed_train_linkpred oracle: the federation schedule unrolled —
    * workers = hk % 3, each round every worker runs `epochs` GD epochs
    * from the shared global weights (part-keyed CTE joins), then the
    * round boundary FedAvg-weights by worker example count
    * (fl_server.py:85-105). Final scores come from the last global. */
  private def linkpredFedOracleSql(rounds: Int, epochs: Int): String = {
    def p(w: String) =
      s"1.0 / (1.0 + exp(-($w.b + ex.x0 * $w.a0 + ex.x1 * $w.a1)))"
    // one local epoch: per-worker gradient sums joined on part
    def epochStep(tag: String, prev: String): String =
      s"""g$tag AS (SELECT ex.part,
         |    SUM((${p("w")} - ex.label) * ex.x0) AS s0,
         |    SUM((${p("w")} - ex.label) * ex.x1) AS s1,
         |    SUM(${p("w")} - ex.label) AS sb,
         |    COUNT(*) AS n
         |  FROM exp ex JOIN $prev w ON ex.part = w.part GROUP BY ex.part),
         |w$tag AS (SELECT w.part, w.a0 - 0.5 * g.s0 / g.n AS a0,
         |    w.a1 - 0.5 * g.s1 / g.n AS a1, w.b - 0.5 * g.sb / g.n AS b
         |  FROM $prev w JOIN g$tag g ON w.part = g.part)""".stripMargin
    // FedAvg at the round boundary, re-broadcast to every worker
    def fedAvg(r: Int, prev: String): String =
      s"""a$r AS (SELECT SUM(s.n * w.a0) / SUM(s.n) AS a0,
         |    SUM(s.n * w.a1) / SUM(s.n) AS a1,
         |    SUM(s.n * w.b) / SUM(s.n) AS b
         |  FROM $prev w JOIN sizes s ON w.part = s.part),
         |wr$r AS (SELECT s.part, a.a0, a.a1, a.b
         |  FROM sizes s CROSS JOIN a$r a)""".stripMargin
    val steps = scala.collection.mutable.ListBuffer.empty[String]
    var prev = "wr0"
    for (r <- 1 to rounds) {
      for (e <- 1 to epochs) {
        val tag = s"r${r}e$e"
        steps += epochStep(tag, prev)
        prev = s"w$tag"
      }
      steps += fedAvg(r, prev)
      prev = s"wr$r"
    }
    s"""WITH ${linkpredPipelineCtes()},
       |exp AS (SELECT ex.*, hk % 3 AS part FROM ex),
       |sizes AS (SELECT part, COUNT(*) AS n FROM exp GROUP BY part),
       |wr0 AS (SELECT part, 0.0 AS a0, 0.0 AS a1, 0.0 AS b FROM sizes),
       |${steps.mkString(",\n")}
       |SELECT ex.src, ex.dst, ex.label,
       |  ROUND(1.0 / (1.0 + exp(-(g.b + ex.x0 * g.a0 + ex.x1 * g.a1))), 6)
       |    AS score
       |FROM exp ex CROSS JOIN a$rounds g
       |ORDER BY ex.src, ex.dst""".stripMargin
  }

  /** Shared DuckDB CTE body for the link-prediction oracles: GCN layer,
    * rotation negatives, Hadamard /64 features → `ex` with columns
    * (src, dst, label, hk, x0, x1). */
  private def linkpredPipelineCtes(): String =
    s"""e0 AS (SELECT 'c' || c_custkey AS src, 'n' || c_nationkey AS dst,
       |    CAST(c_custkey AS BIGINT) AS hk FROM customer),
       |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
       |f AS (SELECT 'c' || c_custkey AS id, CAST(c_custkey % 8 AS DOUBLE) AS f0,
       |    CAST(c_nationkey AS DOUBLE) AS f1 FROM customer
       |  UNION ALL
       |  SELECT 'n' || n_nationkey, CAST(n_nationkey AS DOUBLE),
       |    CAST(n_regionkey AS DOUBLE) FROM nation),
       |m AS (SELECT e.dst AS id, f.f0, f.f1 FROM e JOIN f ON e.src = f.id
       |  UNION ALL SELECT id, f0, f1 FROM f),
       |s AS (SELECT id, COUNT(*) AS n, SUM(f0) AS s0, SUM(f1) AS s1
       |  FROM m GROUP BY id),
       |mm AS (SELECT id, s0 / n AS m0, s1 / n AS m1 FROM s),
       |emb AS (SELECT id, greatest(0, m0 * 0.5 + m1 * 0.125) AS h0,
       |  greatest(0, m0 * -0.25 + m1 * 1.0) AS h1 FROM mm),
       |didx AS (SELECT dst, ROW_NUMBER() OVER (ORDER BY dst) - 1 AS j
       |  FROM (SELECT DISTINCT dst FROM e0)),
       |nn AS (SELECT COUNT(*) AS n FROM didx),
       |cand AS (SELECT e0.src,
       |    (d.j + 1 + (((e0.hk % 1000000) * 2654435761) % 1000000) % (nn.n - 1)) % nn.n AS nj
       |  FROM e0 JOIN didx d ON e0.dst = d.dst CROSS JOIN nn),
       |neg AS (SELECT c.src, d2.dst FROM cand c JOIN didx d2 ON c.nj = d2.j
       |  WHERE NOT EXISTS (SELECT 1 FROM e0
       |                    WHERE e0.src = c.src AND e0.dst = d2.dst)),
       |pr AS (SELECT src, dst, 1 AS label, hk FROM e0
       |  UNION ALL
       |  SELECT n.src, n.dst, 0 AS label, p0.hk FROM neg n
       |  JOIN (SELECT src, hk FROM e0) p0 ON n.src = p0.src),
       |ex AS (SELECT pr.src, pr.dst, pr.label, pr.hk,
       |    hs.h0 * hd.h0 / 64 AS x0, hs.h1 * hd.h1 / 64 AS x1
       |  FROM pr JOIN emb hs ON pr.src = hs.id JOIN emb hd ON pr.dst = hd.id)""".stripMargin

  /** ml_eval_linkpred oracle: the training replay over the 90% split,
    * then the held-out metrics — thresholded counts plus exact
    * Mann–Whitney AUC on average ranks over the ROUNDED scores (both
    * engines tie identically after round-6). Every metric is sums of
    * exactly-representable doubles and single divisions. */
  private def linkpredEvalOracleSql(iters: Int): String = {
    def p(w: String) =
      s"1.0 / (1.0 + exp(-($w.b + ex.x0 * $w.a0 + ex.x1 * $w.a1)))"
    def gd(i: Int): String = {
      val pw = s"w${i - 1}"
      s"""g$i AS (SELECT
         |    SUM((${p(pw)} - ex.label) * ex.x0) AS s0,
         |    SUM((${p(pw)} - ex.label) * ex.x1) AS s1,
         |    SUM(${p(pw)} - ex.label) AS sb,
         |    COUNT(*) AS n
         |  FROM extr ex CROSS JOIN $pw),
         |w$i AS (SELECT $pw.a0 - 0.5 * g$i.s0 / g$i.n AS a0,
         |    $pw.a1 - 0.5 * g$i.s1 / g$i.n AS a1,
         |    $pw.b - 0.5 * g$i.sb / g$i.n AS b
         |  FROM $pw CROSS JOIN g$i)""".stripMargin
    }
    val steps = (1 to iters).map(gd).mkString(",\n")
    s"""WITH ${linkpredPipelineCtes()},
       |extr AS (SELECT * FROM ex WHERE hk % 10 <> 0),
       |exte AS (SELECT * FROM ex WHERE hk % 10 = 0),
       |w0 AS (SELECT 0.0 AS a0, 0.0 AS a1, 0.0 AS b),
       |$steps,
       |sc AS (SELECT CAST(ex.label AS DOUBLE) AS y,
       |    ROUND(${p(s"w$iters")}, 6) AS sco
       |  FROM exte ex CROSS JOIN w$iters),
       |rk AS (SELECT y, sco,
       |    CASE WHEN sco > 0.5 THEN 1.0 ELSE 0.0 END AS pred,
       |    RANK() OVER (ORDER BY sco)
       |      + (COUNT(*) OVER (PARTITION BY sco) - 1) / 2.0 AS avgrk
       |  FROM sc),
       |a AS (SELECT SUM(y * pred) AS tp, SUM((1.0 - y) * pred) AS fp,
       |    SUM(y * (1.0 - pred)) AS fn, SUM((1.0 - y) * (1.0 - pred)) AS tn,
       |    SUM(y) AS npos, SUM(1.0 - y) AS nneg,
       |    SUM(avgrk * y) AS posranks
       |  FROM rk)
       |SELECT ROUND((tp + tn) / (npos + nneg), 6) AS accuracy,
       |  ROUND(tp / nullif(tp + fp, 0), 6) AS precision,
       |  ROUND(tp / nullif(tp + fn, 0), 6) AS recall,
       |  ROUND(2.0 * tp / nullif(2.0 * tp + fp + fn, 0), 6) AS f1,
       |  ROUND((posranks - npos * (npos + 1) / 2) / nullif(npos * nneg, 0), 6) AS auc
       |FROM a""".stripMargin
  }

  /** emb_semdedup oracle — deep replay of the PRODUCTION ⌈√n⌉-bucketed
    * SemDeDup path ([[graft.pipeline.Dedup.semanticDedup]] with k = 0,
    * iters = 2): auto cluster count from the cleaned corpus, smallest-id
    * normalized seeds, two unrolled Lloyd rounds (cosine argmax with cid
    * ASC tie-break; centroid = L2-normalized per-position SUM of
    * normalized members; an empty cluster keeps its previous centroid),
    * final assignment of the ORIGINAL vectors, within-cluster cosine
    * pairs at `threshold`, and transitive closure to the min-id
    * canonical. Every fold is deterministic on both engines; the only
    * cross-engine risk is an argmax flip at a centroid boundary, which
    * needs two similarities within float-ulp of each other — never the
    * case for the driver's random corpus. The oracle always unrolls
    * exactly 2 rounds while the engine's trainCentroids may EARLY-STOP
    * once no centroid coordinate moves more than tol=1e-9; equivalence
    * still holds because the extra unrolled round then assigns against
    * centroids within tol of the engine's — flipping no argmax unless
    * two similarities sit within ~1e-9 of each other — and recomputes
    * each centroid from those identical member sets, whose final
    * assignment round then agrees with the engine's. Both residual
    * failure modes are the same measure-zero near-tie the boundary
    * caveat above already covers. */
  private def semDedupBucketedOracleSql(threshold: Double): String = {
    // one Lloyd round: assign `in` (normalized vecs) to argmax-cosine
    // centroid of `cents`, then rebuild centroids as normalized sums
    def round(i: Int, cents: String): String =
      s"""a$i AS (
         |  SELECT id, cid FROM (
         |    SELECT nv.id, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY nv.id ORDER BY
         |        list_dot_product(nv.v, c.cvec)
         |          / (sqrt(list_sum(list_transform(nv.v, x -> x * x)))
         |             * sqrt(list_sum(list_transform(c.cvec, x -> x * x)))) DESC,
         |        c.cid ASC) AS rn
         |    FROM nv CROSS JOIN $cents c)
         |  WHERE rn = 1),
         |s$i AS (
         |  SELECT a$i.cid, u.pos, SUM(u.x) AS sx
         |  FROM a$i JOIN nv USING (id),
         |    LATERAL (SELECT CAST(generate_subscripts(nv.v, 1) AS INTEGER) AS pos,
         |                    unnest(nv.v) AS x) u
         |  GROUP BY a$i.cid, u.pos),
         |c${i}raw AS (SELECT cid, list(sx ORDER BY pos) AS raw FROM s$i GROUP BY cid),
         |c$i AS (
         |  SELECT p.cid,
         |    CASE WHEN r.raw IS NOT NULL
         |           AND sqrt(list_sum(list_transform(r.raw, x -> x * x))) > 0
         |         THEN list_transform(r.raw,
         |           x -> x / sqrt(list_sum(list_transform(r.raw, y -> y * y))))
         |         ELSE p.cvec END AS cvec
         |  FROM $cents p LEFT JOIN c${i}raw r USING (cid))""".stripMargin
    s"""WITH RECURSIVE base AS (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       |planted AS (
       |  SELECT -id - 1 AS id,
       |    list_transform(range(1, len(vec) + 1),
       |      i -> vec[CAST(i AS INTEGER)] * (1.0 + 0.02 * CAST(((i - 1) % 2) * 2 - 1 AS DOUBLE))) AS vec
       |  FROM base WHERE id % 5 = 0),
       |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
       |clean AS (
       |  SELECT id, vec, sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm
       |  FROM corpus
       |  WHERE vec IS NOT NULL AND len(vec) > 0
       |    AND sqrt(list_sum(list_transform(vec, x -> x * x))) > 0),
       |kk AS (SELECT GREATEST(1, LEAST(4096, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT))) AS k FROM clean),
       |nv AS (SELECT id, list_transform(vec, x -> x / nrm) AS v FROM clean),
       |c0 AS (
       |  SELECT CAST(rn - 1 AS INTEGER) AS cid, v AS cvec
       |  FROM (SELECT ROW_NUMBER() OVER (ORDER BY id) AS rn, v FROM nv)
       |  WHERE rn <= (SELECT k FROM kk)),
       |${round(1, "c0")},
       |${round(2, "c1")},
       |fin AS (
       |  SELECT id, cid FROM (
       |    SELECT cl.id, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY cl.id ORDER BY
       |        list_dot_product(cl.vec, c.cvec)
       |          / (sqrt(list_sum(list_transform(cl.vec, x -> x * x)))
       |             * sqrt(list_sum(list_transform(c.cvec, x -> x * x)))) DESC,
       |        c.cid ASC) AS rn
       |    FROM clean cl CROSS JOIN c2 c)
       |  WHERE rn = 1),
       |pr AS (
       |  SELECT a.id AS ia, b.id AS ib
       |  FROM (SELECT f.cid, cl.id, cl.vec, cl.nrm FROM fin f JOIN clean cl USING (id)) a
       |  JOIN (SELECT f.cid, cl.id, cl.vec, cl.nrm FROM fin f JOIN clean cl USING (id)) b
       |    ON a.cid = b.cid AND a.id < b.id
       |  WHERE list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm) >= $threshold),
       |e AS (SELECT ia AS a, ib AS b FROM pr UNION ALL SELECT ib, ia FROM pr),
       |walk(id, r) AS (
       |  SELECT DISTINCT a, a FROM e
       |  UNION
       |  SELECT e.b, w.r FROM walk w JOIN e ON e.a = w.id
       |),
       |cl2 AS (SELECT id, MIN(r) AS canonical FROM walk GROUP BY id)
       |SELECT c.id, coalesce(cl2.canonical, c.id) AS canonical
       |FROM clean c LEFT JOIN cl2 ON c.id = cl2.id
       |ORDER BY c.id""".stripMargin
  }

  /** alg_closeness oracle: all-sources BFS as a recursive walk with
    * MIN(dist) per (source, vertex); harmonic folded in fixed hop order
    * from exact per-distance counts so the double sum replays exactly. */
  private def closenessOracleSql(maxHops: Int): String = {
    val nCols = (1 to maxHops)
      .map(d => s"COUNT(CASE WHEN dist = $d THEN 1 END) AS n$d").mkString(",\n  ")
    val harmonic = (1 to maxHops)
      .map(d => s"CAST(n$d AS DOUBLE) / $d.0").mkString(" + ")
    s"""WITH RECURSIVE eb AS (
       |  SELECT DISTINCT CAST(l_orderkey % 900 AS VARCHAR) AS src,
       |    CAST(l_partkey % 900 AS VARCHAR) AS dst
       |  FROM lineitem WHERE (l_orderkey * 31 + l_partkey) % 97 = 0),
       |ue AS (SELECT src AS u, dst AS v FROM eb UNION SELECT dst, src FROM eb),
       |uec AS (SELECT u, v FROM ue WHERE u <> v),
       |verts AS (SELECT DISTINCT u AS id FROM uec
       |          WHERE CAST(u AS BIGINT) % 9 = 0),
       |walk(s, id, dist) AS (
       |  SELECT id, id, 0 FROM verts
       |  UNION
       |  SELECT w.s, e.v, w.dist + 1 FROM walk w JOIN uec e ON e.u = w.id
       |  WHERE w.dist < $maxHops
       |),
       |md AS (SELECT s, id, MIN(dist) AS dist FROM walk GROUP BY s, id),
       |r AS (SELECT s, dist FROM md WHERE dist > 0),
       |ag AS (SELECT s, COUNT(*) AS reached, SUM(dist) AS sum_dist,
       |  $nCols
       |  FROM r GROUP BY s)
       |SELECT v.id,
       |  CAST(coalesce(ag.reached, 0) AS BIGINT) AS reached,
       |  CAST(coalesce(ag.sum_dist, 0) AS BIGINT) AS sum_dist,
       |  CASE WHEN coalesce(ag.sum_dist, 0) > 0
       |    THEN ROUND(CAST(ag.reached AS DOUBLE) / CAST(ag.sum_dist AS DOUBLE), 6)
       |    ELSE 0.0 END AS closeness,
       |  ROUND(coalesce($harmonic, 0.0), 6) AS harmonic
       |FROM verts v LEFT JOIN ag ON v.id = ag.s
       |ORDER BY CAST(v.id AS BIGINT)""".stripMargin
  }

  /** alg_graph_sample oracle: hop-by-hop replay of the capped snowball
    * expansion — house walk-LCG priority, per-frontier-vertex
    * ROW_NUMBER ≤ cap, member anti-join — then the induced-edge
    * closure. */
  private def snowballOracleSql(hops: Int, cap: Int): String = {
    val chain = new StringBuilder
    for (i <- 1 to hops) {
      chain.append(s""",
        |cand$i AS MATERIALIZED (SELECT nb.u, nb.v,
        |    (1103515245 * (nb.u * 1000003 + nb.v * 101) + 12345) % 2147483647 AS p
        |  FROM nb JOIN f${i - 1} f ON f.id = nb.u),
        |adm$i AS MATERIALIZED (SELECT DISTINCT v AS id FROM (
        |    SELECT v, ROW_NUMBER() OVER (PARTITION BY u ORDER BY p, v) AS rn
        |    FROM cand$i) WHERE rn <= $cap),
        |f$i AS MATERIALIZED (SELECT id FROM adm$i
        |  WHERE id NOT IN (SELECT id FROM m${i - 1})),
        |m$i AS MATERIALIZED (SELECT id FROM m${i - 1} UNION ALL SELECT id FROM f$i)""".stripMargin)
    }
    s"""WITH eb AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey % 900 AS src, l_partkey % 900 AS dst
       |  FROM lineitem WHERE (l_orderkey * 31 + l_partkey) % 97 = 0),
       |cn AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS s, GREATEST(src, dst) AS d
       |  FROM eb WHERE src <> dst),
       |nb AS MATERIALIZED (SELECT s AS u, d AS v FROM cn UNION ALL SELECT d, s FROM cn),
       |m0 AS MATERIALIZED (SELECT DISTINCT u AS id FROM nb WHERE u % 90 = 0),
       |f0 AS MATERIALIZED (SELECT id FROM m0)
       |$chain
       |SELECT cn.s AS src, cn.d AS dst FROM cn
       |JOIN m$hops a ON a.id = cn.s JOIN m$hops b ON b.id = cn.d
       |ORDER BY src, dst""".stripMargin
  }

  /** alg_core_numbers oracle: the bounded k-shell schedule unrolled —
    * level k round r keeps vertices whose induced degree over the
    * previous survivor set is ≥ k; core = MAX level whose final round a
    * vertex survived (0 if none — only under truncation). */
  private def coreNumbersOracleSql(maxK: Int, roundsPerK: Int): String = {
    val chain = new StringBuilder
    var prev = "a_0_0"
    for (k <- 1 to maxK; r <- 1 to roundsPerK) {
      val name = s"a_${k}_$r"
      chain.append(s""",
        |$name AS MATERIALIZED (SELECT id FROM (
        |  SELECT x.id, COUNT(*) AS deg FROM $prev x
        |    JOIN cn e ON (e.s = x.id OR e.d = x.id)
        |    JOIN $prev y ON y.id = CASE WHEN e.s = x.id THEN e.d ELSE e.s END
        |  GROUP BY x.id) WHERE deg >= $k)""".stripMargin)
      prev = name
    }
    val lvl = (1 to maxK)
      .map(k => s"SELECT id, $k AS k FROM a_${k}_$roundsPerK")
      .mkString(" UNION ALL ")
    s"""WITH eb AS MATERIALIZED (
       |  SELECT DISTINCT CAST(l_orderkey % 900 AS VARCHAR) AS src,
       |    CAST(l_partkey % 900 AS VARCHAR) AS dst
       |  FROM lineitem WHERE (l_orderkey * 31 + l_partkey) % 97 = 0),
       |cn AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS s, GREATEST(src, dst) AS d
       |  FROM eb WHERE src <> dst),
       |a_0_0 AS MATERIALIZED (SELECT DISTINCT s AS id FROM cn UNION SELECT d FROM cn)
       |$chain
       |SELECT v.id, CAST(COALESCE(MAX(lvl.k), 0) AS BIGINT) AS core
       |FROM a_0_0 v LEFT JOIN ($lvl) lvl ON lvl.id = v.id
       |GROUP BY v.id ORDER BY CAST(v.id AS BIGINT)""".stripMargin
  }

  /** alg_louvain oracle: every synchronous local-move round unrolled as
    * MATERIALIZED CTEs — volumes, neighbor-community counts, the
    * 2m-scaled integer gain, ROW_NUMBER argmax (gain DESC, label ASC),
    * parity-gated adoption. Pure integer arithmetic throughout. */
  private def louvainOracleSql(rounds: Int): String = {
    val chain = (1 to rounds).map { i =>
      s"""vol$i AS MATERIALIZED (SELECT c, CAST(SUM(deg) AS BIGINT) AS vol
         |  FROM l${i - 1} JOIN dg USING (id) GROUP BY c),
         |kvc$i AS MATERIALIZED (SELECT nb.u AS id, cm.c, COUNT(*) AS kvc
         |  FROM nb JOIN l${i - 1} cm ON cm.id = nb.v GROUP BY nb.u, cm.c),
         |cand$i AS MATERIALIZED (SELECT id, c, CAST(MAX(kvc) AS BIGINT) AS kvc FROM (
         |    SELECT id, c, kvc FROM kvc$i
         |    UNION ALL SELECT id, c, 0 FROM l${i - 1}) GROUP BY id, c),
         |gain$i AS MATERIALIZED (SELECT cd.id, cd.c,
         |    2 * mm.m * cd.kvc - dg.deg *
         |      (v.vol - CASE WHEN cur.c = cd.c THEN dg.deg ELSE 0 END) AS gain
         |  FROM cand$i cd
         |    JOIN l${i - 1} cur ON cur.id = cd.id
         |    JOIN vol$i v ON v.c = cd.c
         |    JOIN dg ON dg.id = cd.id, mm),
         |b$i AS MATERIALIZED (SELECT id, c FROM (
         |    SELECT id, c, ROW_NUMBER() OVER (PARTITION BY id ORDER BY gain DESC, c) AS rn
         |    FROM gain$i) WHERE rn = 1),
         |l$i AS MATERIALIZED (SELECT l.id,
         |    CASE WHEN l.id % 2 = ${i % 2} THEN b.c ELSE l.c END AS c
         |  FROM l${i - 1} l JOIN b$i b ON b.id = l.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH eb AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey % 900 AS src, l_partkey % 900 AS dst
       |  FROM lineitem WHERE (l_orderkey * 31 + l_partkey) % 97 = 0),
       |cn AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS s, GREATEST(src, dst) AS d
       |  FROM eb WHERE src <> dst),
       |nb AS MATERIALIZED (SELECT s AS u, d AS v FROM cn UNION ALL SELECT d, s FROM cn),
       |dg AS MATERIALIZED (SELECT u AS id, COUNT(*) AS deg FROM nb GROUP BY u),
       |mm AS MATERIALIZED (SELECT COUNT(*) AS m FROM cn),
       |l0 AS MATERIALIZED (SELECT id, id AS c FROM dg),
       |$chain
       |SELECT id, c AS community FROM l$rounds ORDER BY id""".stripMargin
  }

  /** Default BLP oracle graph: the thinned mod-900 lineitem projection,
    * canonicalized — CTE `cn(s, d)`. A `def`, not a `val`: it is read
    * during the query-map initializer, which runs before later vals
    * assign (the object-init-order trap). */
  private def blpGraphMod900: String =
    s"""eb AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey % 900 AS src, l_partkey % 900 AS dst
       |  FROM lineitem WHERE (l_orderkey * 31 + l_partkey) % 97 = 0),
       |cn AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS s, GREATEST(src, dst) AS d
       |  FROM eb WHERE src <> dst)""".stripMargin

  /** BLP oracle graph for the Cypher CALL surface: the 50k-vertex hash
    * graph (string ids — the re-canonicalization LEAST/GREATEST runs on
    * VARCHAR both sides, binary collation). */
  private def blpGraphHash: String =
    s"""${TpchBridge.sql.hashGraph},
       |cn AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS s, GREATEST(src, dst) AS d
       |  FROM hg WHERE src <> dst)""".stripMargin

  /** Md5-byte bucket of a column expression (the Sketches.hllBucket
    * recipe in DuckDB SQL). */
  private def blpBucketSql(mExpr: String): String =
    s"(${hvSql(s"substr($mExpr, 1, 1)")} * 16 + ${hvSql(s"substr($mExpr, 2, 1)")})"

  /** The BLP round chain alone, every CTE name prefixed with `pfx` so
    * two chains (coarse + refine) compose in one WITH. Reads the
    * canonical graph from CTE `$cnName(s, d)` — `(s, d, w)` when
    * `weighted` (k sums edge weights); `vwName` names an (id, vw) CTE
    * for weighted loads/capacity (vertices it misses weigh 1);
    * `p0Override` replaces the md5 initial assignment (must emit
    * (id, part BIGINT, par)) — the multilevel projection seed. Final
    * table: `${pfx}p$rounds`. */
  private def blpChainCtes(rounds: Int, parts: Int, slackPct: Int,
                           pfx: String, cnName: String,
                           p0Override: Option[String] = None,
                           weighted: Boolean = false,
                           vwName: Option[String] = None): String = {
    val bucket = blpBucketSql("m")
    val nbCols = if (weighted) ", w" else ""
    val kExpr = if (weighted) "SUM(nb.w)" else "COUNT(*)"
    val loadExpr = vwName match {
      case None => "CAST(COUNT(*) AS BIGINT) AS load"
      case Some(_) => "CAST(SUM(COALESCE(vw.vw, 1)) AS BIGINT) AS load"
    }
    val loadFrom = vwName match {
      case None => (i: Int) => s"${pfx}p${i - 1} GROUP BY part"
      case Some(vn) => (i: Int) =>
        s"${pfx}p${i - 1} p LEFT JOIN $vn vw ON vw.id = p.id GROUP BY part"
    }
    val capBody = vwName match {
      case None =>
        s"""SELECT CAST((COUNT(*) * ${100 + slackPct} + ${100 * parts - 1}) // ${100 * parts} AS BIGINT) AS c
           |  FROM ${pfx}verts""".stripMargin
      case Some(vn) =>
        s"""SELECT CAST((SUM(COALESCE(vw.vw, 1)) * ${100 + slackPct} + ${100 * parts - 1}) // ${100 * parts} AS BIGINT) AS c
           |  FROM ${pfx}verts v LEFT JOIN $vn vw ON vw.id = v.id""".stripMargin
    }
    val chain = (1 to rounds).map { i =>
      s"""${pfx}ld$i AS MATERIALIZED (SELECT part, $loadExpr
         |  FROM ${loadFrom(i)}),
         |${pfx}kv$i AS MATERIALIZED (SELECT nb.u AS id, a.part, CAST($kExpr AS BIGINT) AS k
         |  FROM ${pfx}nb nb JOIN ${pfx}p${i - 1} a ON a.id = nb.v GROUP BY nb.u, a.part),
         |${pfx}cd$i AS MATERIALIZED (SELECT id, part, CAST(MAX(k) AS BIGINT) AS k FROM (
         |    SELECT id, part, k FROM ${pfx}kv$i
         |    UNION ALL SELECT id, part, 0 FROM ${pfx}p${i - 1}) GROUP BY id, part),
         |${pfx}sc$i AS MATERIALIZED (SELECT c.id, c.part, c.k * (cap.c - l.load) AS score, l.load
         |  FROM ${pfx}cd$i c JOIN ${pfx}ld$i l USING (part), ${pfx}cap cap),
         |${pfx}b$i AS MATERIALIZED (SELECT id, part FROM (
         |    SELECT id, part,
         |      ROW_NUMBER() OVER (PARTITION BY id ORDER BY score DESC, load ASC, part ASC) AS rn
         |    FROM ${pfx}sc$i) WHERE rn = 1),
         |${pfx}p$i AS MATERIALIZED (SELECT p.id,
         |    CASE WHEN p.par = ${i % 2} THEN b.part ELSE p.part END AS part, p.par
         |  FROM ${pfx}p${i - 1} p JOIN ${pfx}b$i b ON b.id = p.id)""".stripMargin
    }.mkString(",\n")
    val p0 = p0Override.getOrElse(
      s"""SELECT id,
         |    CAST($bucket % $parts AS BIGINT) AS part,
         |    $bucket % 2 AS par
         |  FROM ${pfx}hb""".stripMargin)
    s"""${pfx}nb AS MATERIALIZED (SELECT s AS u, d AS v$nbCols FROM $cnName
       |  UNION ALL SELECT d, s$nbCols FROM $cnName),
       |${pfx}verts AS (SELECT DISTINCT u AS id FROM ${pfx}nb),
       |${pfx}cap AS ($capBody),
       |${pfx}hb AS (SELECT id, md5(CAST(id AS VARCHAR)) AS m FROM ${pfx}verts),
       |${pfx}p0 AS MATERIALIZED ($p0),
       |$chain""".stripMargin
  }

  /** Shared CTE chain for the BLP partitioning oracles: synchronous
    * balanced label propagation replayed round by round — md5-byte
    * init/parity, integer capacity via `//` floor division, k·(C−load)
    * BIGINT scores, (score DESC, load ASC, part ASC) argmax,
    * parity-gated adoption (mirrors
    * [[graft.algorithms.GraphAlgorithms.balancedPartition]] exactly). */
  private def blpCtes(rounds: Int, parts: Int, slackPct: Int,
                      graphCtes: String): String =
    s"$graphCtes,\n${blpChainCtes(rounds, parts, slackPct, pfx = "", cnName = "cn")}"

  /** alg_partition_blp / cy_call_partition oracle: the BLP round chain,
    * final assignment. */
  private def blpOracleSql(rounds: Int, parts: Int, slackPct: Int,
                           graphCtes: String = blpGraphMod900): String =
    s"""WITH ${blpCtes(rounds, parts, slackPct, graphCtes)}
       |SELECT id, CAST(part AS INTEGER) AS part FROM p$rounds ORDER BY id""".stripMargin

  /** alg_fastrp oracle: the exact-integer FastRP recurrence over the
    * bridge graph's undirected collapse — md5-byte very-sparse ±1 init
    * (the Sketches.hllBucket byte of `id || ':' || dim`, % 6 → +1/−1/0),
    * then `iterations` neighbor-sum iterates, each one join + one
    * GROUP BY. Emits every iterate's coordinates as r{t}_{j} columns,
    * matching [[graft.algorithms.GraphAlgorithms.fastRP]]'s flat schema. */
  private def fastRpCtes(dims: Int, iterations: Int,
                         weightExpr: Option[String] = None): String = {
    def initCol(j: Int): String = {
      val m = s"md5(id || ':$j')"
      s"""CASE ${blpBucketSql(m)} % 6
         |    WHEN 0 THEN CAST(1 AS BIGINT) WHEN 1 THEN CAST(-1 AS BIGINT)
         |    ELSE CAST(0 AS BIGINT) END AS x$j""".stripMargin
    }
    // weightExpr (in terms of the canonical s/d) turns the neighbor sum
    // into Σ w·x — the weighted recurrence's oracle form
    val w = weightExpr.fold("CAST(1 AS BIGINT)")(e => s"CAST($e AS BIGINT)")
    val sums = (0 until dims)
      .map(j => s"CAST(SUM(nb.w * x$j) AS BIGINT) AS x$j").mkString(", ")
    val iterCtes = (1 to iterations).map { t =>
      s"""e$t AS (SELECT nb.u AS id, $sums
         |  FROM nb JOIN e${t - 1} ON e${t - 1}.id = nb.v GROUP BY nb.u)""".stripMargin
    }.mkString(",\n")
    s"""${blpGraphHash},
       |nb AS MATERIALIZED (SELECT s AS u, d AS v, $w AS w FROM cn
       |  UNION ALL SELECT d, s, $w FROM cn),
       |v0 AS (SELECT DISTINCT u AS id FROM nb),
       |e0 AS (SELECT id, ${(0 until dims).map(initCol).mkString(",\n  ")} FROM v0),
       |$iterCtes""".stripMargin
  }

  private def fastRpOracleSql(dims: Int, iterations: Int,
                              weightExpr: Option[String] = None): String = {
    val outCols = (1 to iterations).flatMap(t =>
      (0 until dims).map(j => s"e$t.x$j AS r${t}_$j")).mkString(", ")
    val joins = (2 to iterations).map(t => s"JOIN e$t ON e$t.id = e1.id").mkString(" ")
    s"""WITH ${fastRpCtes(dims, iterations, weightExpr)}
       |SELECT e1.id, $outCols FROM e1 $joins ORDER BY e1.id""".stripMargin
  }

  /** alg_fastrp_knn oracle: cosine top-k over the second FastRP iterate.
    * The coordinates are small exact integers, so products and 4-term
    * sums are EXACT in doubles and sqrt/division are correctly-rounded
    * IEEE — the raw ranking key is bit-identical cross-engine (stronger
    * than the float-corpus kNN rows). Zero-norm vectors drop on both
    * sides before ranking. */
  private def fastRpKnnOracleSql(dims: Int, k: Int): String = {
    val sq = (0 until dims).map(j => s"x$j*x$j").mkString(" + ")
    val dcols = (0 until dims).map(j => s"CAST(x$j AS DOUBLE) AS x$j").mkString(", ")
    val qcols = (0 until dims).map(j => s"x$j AS q$j").mkString(", ")
    val dotExpr = (0 until dims).map(j => s"emb.x$j*q.q$j").mkString(" + ")
    s"""WITH ${fastRpCtes(dims, 2)},
       |emb AS (SELECT id, $dcols, sqrt(CAST($sq AS DOUBLE)) AS nrm
       |  FROM e2 WHERE $sq > 0),
       |q AS (SELECT id AS qid, $qcols, nrm AS qn FROM emb ORDER BY id LIMIT 3),
       |scored AS (SELECT q.qid, emb.id,
       |    ($dotExpr) / (emb.nrm * q.qn) AS cosine FROM emb CROSS JOIN q),
       |rk AS (SELECT qid, id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, id) AS rank
       |  FROM scored)
       |SELECT qid, id, CAST(ROUND(cosine, 6) AS DOUBLE) AS cosine, rank
       |FROM rk WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }

  /** alg_partition_quality oracle: cut/balance summary over the BLP
    * final assignment — exact counts, two ROUND(…, 6) doubles. */
  private def blpQualityOracleSql(rounds: Int, parts: Int, slackPct: Int,
                                  graphCtes: String = blpGraphMod900): String =
    s"""WITH ${blpCtes(rounds, parts, slackPct, graphCtes)},
       |am AS (SELECT id AS aid, part FROM p$rounds),
       |ct AS (SELECT CAST(COUNT(*) AS BIGINT) AS edges,
       |    CAST(COUNT(CASE WHEN ps.part <> pd.part THEN 1 END) AS BIGINT) AS cut_edges
       |  FROM cn JOIN am ps ON ps.aid = cn.s JOIN am pd ON pd.aid = cn.d),
       |lds AS (SELECT part, COUNT(*) AS l FROM am GROUP BY part),
       |lag AS (SELECT CAST($parts AS BIGINT) AS parts, CAST(SUM(l) AS BIGINT) AS vertices,
       |    CAST(MAX(l) AS BIGINT) AS max_load,
       |    CASE WHEN COUNT(*) < $parts THEN 0 ELSE CAST(MIN(l) AS BIGINT) END AS min_load
       |  FROM lds)
       |SELECT parts, vertices, edges, cut_edges,
       |  ROUND(CASE WHEN edges > 0 THEN CAST(cut_edges AS DOUBLE) / edges ELSE 0.0 END, 6) AS cut_ratio,
       |  max_load, min_load,
       |  ROUND(CASE WHEN vertices > 0 THEN CAST(max_load AS DOUBLE) * parts / vertices ELSE 0.0 END, 6) AS imbalance
       |FROM ct, lag""".stripMargin

  /** The METIS-style V-cycle as one CTE pipeline, shared by the
    * assignment and quality oracles — the matching chain (alg_matching
    * contract), contraction to coarse edges (alg_coarsen contract), a
    * prefixed BLP chain on the coarse graph, projection through the
    * matched pairs, and a seeded BLP chain on the fine graph (md5
    * fallback for vertices the projection misses). Final assignment in
    * `rp$refineRounds`, fine canonical graph in `rcn(s, d)`. */
  private def multilevelCtes(matchRounds: Int, parts: Int,
                             coarseRounds: Int, refineRounds: Int,
                             slackPct: Int): String = {
    val bucket = blpBucketSql("h.m")
    val seedP0 =
      s"""SELECT h.id,
         |    CAST(COALESCE(pr.part, $bucket % $parts) AS BIGINT) AS part,
         |    $bucket % 2 AS par
         |  FROM rhb h LEFT JOIN proj pr ON pr.id = h.id""".stripMargin
    val mtUnion = (1 to matchRounds)
      .map(r => s"SELECT u, v FROM w$r").mkString("\n  UNION ALL ")
    s"""${matchingChainCtes(matchRounds)},
       |mt AS MATERIALIZED (
       |  $mtUnion),
       |re AS (SELECT COALESCE(mu.u, e.u) AS a, COALESCE(mv.u, e.v) AS b
       |  FROM e0 e
       |  LEFT JOIN mt mu ON mu.v = e.u
       |  LEFT JOIN mt mv ON mv.v = e.v),
       |ccn AS MATERIALIZED (SELECT LEAST(a, b) AS s, GREATEST(a, b) AS d,
       |    CAST(COUNT(*) AS BIGINT) AS w
       |  FROM re WHERE a <> b GROUP BY 1, 2),
       |cvw AS MATERIALIZED (SELECT DISTINCT u AS id, CAST(2 AS BIGINT) AS vw FROM mt),
       |${blpChainCtes(coarseRounds, parts, slackPct, pfx = "c", cnName = "ccn",
           weighted = true, vwName = Some("cvw"))},
       |proj AS MATERIALIZED (
       |  SELECT id, part FROM cp$coarseRounds
       |  UNION ALL
       |  SELECT mt.v AS id, cp.part FROM mt JOIN cp$coarseRounds cp ON cp.id = mt.u),
       |rcn AS (SELECT u AS s, v AS d FROM e0),
       |${blpChainCtes(refineRounds, parts, slackPct, pfx = "r", cnName = "rcn",
           p0Override = Some(seedP0))}""".stripMargin
  }

  /** Prefixed WEIGHTED matching chain (the METIS heavy-edge heuristic,
    * level ≥ 1 of the recursive V-cycle): reads `$cnName(s, d, w)`,
    * winner = the edge that is the (w DESC, p, u, v)-first incident
    * edge of BOTH endpoints — the LCG `p` only breaks weight ties,
    * mirroring [[graft.algorithms.GraphAlgorithms]]'s matchingOnCanon
    * weighted key struct(-w, p, ul, vl) exactly. ROW_NUMBER replaces
    * the flattened-BIGINT key of the unweighted chain (a weight field
    * no longer packs next to p/u/v in 63 bits). Matched pairs in
    * `${pfx}w$r` (u = rep, v = partner), live edges in `${pfx}e$r`. */
  private def weightedMatchingChainCtes(rounds: Int, pfx: String,
                                        cnName: String): String = {
    val chain = (1 to rounds).map { r =>
      s"""${pfx}k$r AS MATERIALIZED (SELECT u, v, w,
         |  (1103515245 * ((u * 1000003 + v * 7919 + $r * 101) % 2147483647) + 12345)
         |   % 2147483647 AS p
         |  FROM ${pfx}e${r - 1}),
         |${pfx}mn$r AS MATERIALIZED (SELECT idl, u, v FROM (
         |    SELECT idl, u, v, ROW_NUMBER() OVER (PARTITION BY idl
         |        ORDER BY w DESC, p ASC, u ASC, v ASC) AS rn
         |    FROM (SELECT u AS idl, u, v, w, p FROM ${pfx}k$r
         |          UNION ALL SELECT v, u, v, w, p FROM ${pfx}k$r))
         |  WHERE rn = 1),
         |${pfx}w$r AS MATERIALIZED (SELECT k.u, k.v FROM ${pfx}k$r k
         |  JOIN ${pfx}mn$r a ON a.idl = k.u AND a.u = k.u AND a.v = k.v
         |  JOIN ${pfx}mn$r b ON b.idl = k.v AND b.u = k.u AND b.v = k.v),
         |${pfx}m$r AS (SELECT u AS id FROM ${pfx}w$r UNION SELECT v FROM ${pfx}w$r),
         |${pfx}e$r AS MATERIALIZED (SELECT e.u, e.v, e.w FROM ${pfx}e${r - 1} e
         |  WHERE e.u NOT IN (SELECT id FROM ${pfx}m$r)
         |    AND e.v NOT IN (SELECT id FROM ${pfx}m$r))""".stripMargin
    }.mkString(",\n")
    s"""${pfx}e0 AS MATERIALIZED (SELECT s AS u, d AS v, w FROM $cnName),
       |$chain""".stripMargin
  }

  /** The 2-level recursive V-cycle as one CTE pipeline (`levels = 2`):
    * the level-0 unweighted matching/contraction of [[multilevelCtes]],
    * then a WEIGHTED heavy-edge matching + contraction of the coarse
    * graph (edge weights sum, vertex weights chain as cluster sizes),
    * doubly-weighted BLP on the coarsest graph, and the projection +
    * seeded-refinement walk back UP through both levels — weighted
    * refinement at level 1, plain at the fine level. Final assignment
    * in `rp$refineRounds`, fine canonical graph in `rcn(s, d)`. */
  private def multilevel2Ctes(matchRounds: Int, parts: Int,
                              coarseRounds: Int, refineRounds: Int,
                              slackPct: Int): String = {
    val bucket = blpBucketSql("h.m")
    def seedP0(hb: String, proj: String) =
      s"""SELECT h.id,
         |    CAST(COALESCE(pr.part, $bucket % $parts) AS BIGINT) AS part,
         |    $bucket % 2 AS par
         |  FROM $hb h LEFT JOIN $proj pr ON pr.id = h.id""".stripMargin
    val mtUnion = (1 to matchRounds)
      .map(r => s"SELECT u, v FROM w$r").mkString("\n  UNION ALL ")
    val mt2Union = (1 to matchRounds)
      .map(r => s"SELECT u, v FROM g2w$r").mkString("\n  UNION ALL ")
    s"""${matchingChainCtes(matchRounds)},
       |mt AS MATERIALIZED (
       |  $mtUnion),
       |re AS (SELECT COALESCE(mu.u, e.u) AS a, COALESCE(mv.u, e.v) AS b
       |  FROM e0 e
       |  LEFT JOIN mt mu ON mu.v = e.u
       |  LEFT JOIN mt mv ON mv.v = e.v),
       |ccn AS MATERIALIZED (SELECT LEAST(a, b) AS s, GREATEST(a, b) AS d,
       |    CAST(COUNT(*) AS BIGINT) AS w
       |  FROM re WHERE a <> b GROUP BY 1, 2),
       |cvw AS MATERIALIZED (SELECT DISTINCT u AS id, CAST(2 AS BIGINT) AS vw FROM mt),
       |${weightedMatchingChainCtes(matchRounds, pfx = "g2", cnName = "ccn")},
       |mt2 AS MATERIALIZED (
       |  $mt2Union),
       |re2 AS (SELECT COALESCE(mu.u, e.s) AS a, COALESCE(mv.u, e.d) AS b, e.w
       |  FROM ccn e
       |  LEFT JOIN mt2 mu ON mu.v = e.s
       |  LEFT JOIN mt2 mv ON mv.v = e.d),
       |ccn2 AS MATERIALIZED (SELECT LEAST(a, b) AS s, GREATEST(a, b) AS d,
       |    CAST(SUM(w) AS BIGINT) AS w
       |  FROM re2 WHERE a <> b GROUP BY 1, 2),
       |vw2 AS MATERIALIZED (
       |  SELECT m.u AS id, CAST(COALESCE(a.vw, 1) + COALESCE(b.vw, 1) AS BIGINT) AS vw
       |  FROM mt2 m LEFT JOIN cvw a ON a.id = m.u LEFT JOIN cvw b ON b.id = m.v
       |  UNION ALL
       |  SELECT c.id, c.vw FROM cvw c
       |  WHERE c.id NOT IN (SELECT u FROM mt2 UNION SELECT v FROM mt2)),
       |${blpChainCtes(coarseRounds, parts, slackPct, pfx = "c", cnName = "ccn2",
           weighted = true, vwName = Some("vw2"))},
       |proj1 AS MATERIALIZED (
       |  SELECT id, part FROM cp$coarseRounds
       |  UNION ALL
       |  SELECT mt2.v AS id, cp.part FROM mt2 JOIN cp$coarseRounds cp ON cp.id = mt2.u),
       |${blpChainCtes(refineRounds, parts, slackPct, pfx = "f1", cnName = "ccn",
           p0Override = Some(seedP0("f1hb", "proj1")),
           weighted = true, vwName = Some("cvw"))},
       |proj AS MATERIALIZED (
       |  SELECT id, part FROM f1p$refineRounds
       |  UNION ALL
       |  SELECT mt.v AS id, fp.part FROM mt JOIN f1p$refineRounds fp ON fp.id = mt.u),
       |rcn AS (SELECT u AS s, v AS d FROM e0),
       |${blpChainCtes(refineRounds, parts, slackPct, pfx = "r", cnName = "rcn",
           p0Override = Some(seedP0("rhb", "proj")))}""".stripMargin
  }

  /** alg_partition_ml2 oracle: the 2-level V-cycle chain, final fine
    * assignment. */
  private def multilevel2OracleSql(matchRounds: Int, parts: Int,
                                   coarseRounds: Int, refineRounds: Int,
                                   slackPct: Int): String =
    s"""WITH ${multilevel2Ctes(matchRounds, parts, coarseRounds, refineRounds, slackPct)}
       |SELECT id, CAST(part AS INTEGER) AS part FROM rp$refineRounds ORDER BY id""".stripMargin

  /** alg_partition_ml_quality oracle: the 2-level V-cycle chain, then
    * the cut/balance summary (intended-k convention) over its final
    * fine assignment. */
  private def multilevel2QualityOracleSql(matchRounds: Int, parts: Int,
                                          coarseRounds: Int, refineRounds: Int,
                                          slackPct: Int): String =
    s"""WITH ${multilevel2Ctes(matchRounds, parts, coarseRounds, refineRounds, slackPct)},
       |am AS (SELECT id AS aid, part FROM rp$refineRounds),
       |ct AS (SELECT CAST(COUNT(*) AS BIGINT) AS edges,
       |    CAST(COUNT(CASE WHEN ps.part <> pd.part THEN 1 END) AS BIGINT) AS cut_edges
       |  FROM rcn cn JOIN am ps ON ps.aid = cn.s JOIN am pd ON pd.aid = cn.d),
       |lds AS (SELECT part, COUNT(*) AS l FROM am GROUP BY part),
       |lag AS (SELECT CAST($parts AS BIGINT) AS parts, CAST(SUM(l) AS BIGINT) AS vertices,
       |    CAST(MAX(l) AS BIGINT) AS max_load,
       |    CASE WHEN COUNT(*) < $parts THEN 0 ELSE CAST(MIN(l) AS BIGINT) END AS min_load
       |  FROM lds)
       |SELECT parts, vertices, edges, cut_edges,
       |  ROUND(CASE WHEN edges > 0 THEN CAST(cut_edges AS DOUBLE) / edges ELSE 0.0 END, 6) AS cut_ratio,
       |  max_load, min_load,
       |  ROUND(CASE WHEN vertices > 0 THEN CAST(max_load AS DOUBLE) * parts / vertices ELSE 0.0 END, 6) AS imbalance
       |FROM ct, lag""".stripMargin

  private def multilevelOracleSql(matchRounds: Int, parts: Int,
                                  coarseRounds: Int, refineRounds: Int,
                                  slackPct: Int): String =
    s"""WITH ${multilevelCtes(matchRounds, parts, coarseRounds, refineRounds, slackPct)}
       |SELECT id, CAST(part AS INTEGER) AS part FROM rp$refineRounds ORDER BY id""".stripMargin

  /** alg_partition_ml_quality oracle: the V-cycle chain, then the
    * cut/balance summary over its final fine assignment. */
  private def multilevelQualityOracleSql(matchRounds: Int, parts: Int,
                                         coarseRounds: Int, refineRounds: Int,
                                         slackPct: Int): String =
    s"""WITH ${multilevelCtes(matchRounds, parts, coarseRounds, refineRounds, slackPct)},
       |am AS (SELECT id AS aid, part FROM rp$refineRounds),
       |ct AS (SELECT CAST(COUNT(*) AS BIGINT) AS edges,
       |    CAST(COUNT(CASE WHEN ps.part <> pd.part THEN 1 END) AS BIGINT) AS cut_edges
       |  FROM rcn cn JOIN am ps ON ps.aid = cn.s JOIN am pd ON pd.aid = cn.d),
       |lds AS (SELECT part, COUNT(*) AS l FROM am GROUP BY part),
       |lag AS (SELECT CAST($parts AS BIGINT) AS parts, CAST(SUM(l) AS BIGINT) AS vertices,
       |    CAST(MAX(l) AS BIGINT) AS max_load,
       |    CASE WHEN COUNT(*) < $parts THEN 0 ELSE CAST(MIN(l) AS BIGINT) END AS min_load
       |  FROM lds)
       |SELECT parts, vertices, edges, cut_edges,
       |  ROUND(CASE WHEN edges > 0 THEN CAST(cut_edges AS DOUBLE) / edges ELSE 0.0 END, 6) AS cut_ratio,
       |  max_load, min_load,
       |  ROUND(CASE WHEN vertices > 0 THEN CAST(max_load AS DOUBLE) * parts / vertices ELSE 0.0 END, 6) AS imbalance
       |FROM ct, lag""".stripMargin

  /** alg_eccentricity oracle: the closeness BFS walk with a MAX(dist)
    * fold — per-landmark reach + eccentricity, exact integers only. */
  private def eccentricityOracleSql(maxHops: Int): String =
    s"""WITH RECURSIVE eb AS (
       |  SELECT DISTINCT CAST(l_orderkey % 900 AS VARCHAR) AS src,
       |    CAST(l_partkey % 900 AS VARCHAR) AS dst
       |  FROM lineitem WHERE (l_orderkey * 31 + l_partkey) % 97 = 0),
       |ue AS (SELECT src AS u, dst AS v FROM eb UNION SELECT dst, src FROM eb),
       |uec AS (SELECT u, v FROM ue WHERE u <> v),
       |verts AS (SELECT DISTINCT u AS id FROM uec
       |          WHERE CAST(u AS BIGINT) % 9 = 0),
       |walk(s, id, dist) AS (
       |  SELECT id, id, 0 FROM verts
       |  UNION
       |  SELECT w.s, e.v, w.dist + 1 FROM walk w JOIN uec e ON e.u = w.id
       |  WHERE w.dist < $maxHops
       |),
       |md AS (SELECT s, id, MIN(dist) AS dist FROM walk GROUP BY s, id),
       |r AS (SELECT s, dist FROM md WHERE dist > 0),
       |ag AS (SELECT s, COUNT(*) AS reached, MAX(dist) AS ecc FROM r GROUP BY s)
       |SELECT v.id,
       |  CAST(coalesce(ag.reached, 0) AS BIGINT) AS reached,
       |  CAST(coalesce(ag.ecc, 0) AS BIGINT) AS eccentricity
       |FROM verts v LEFT JOIN ag ON v.id = ag.s
       |ORDER BY CAST(v.id AS BIGINT)""".stripMargin

  /** alg_betweenness oracle: hop-bounded Brandes replayed level by level
    * — forward CTEs f_i carry (source, vertex, σ) per BFS depth with the
    * settled-set NOT EXISTS guard (σ only sums over the shortest-path
    * DAG), backward CTEs b_i fold δ = Σ σ_u/σ_w·(1+δ_w) from the deepest
    * level inward, kept TOTAL per level via LEFT JOIN + COALESCE. All
    * MATERIALIZED (each level is read twice — the k-truss CTE lesson). */
  private def betweennessOracleSql(maxHops: Int): String = {
    val fwd = new StringBuilder
    fwd.append(
      """f0 AS MATERIALIZED (SELECT id AS s, id AS v, CAST(1 AS BIGINT) AS sigma FROM lm),
        |c0 AS MATERIALIZED (SELECT s, v FROM f0)""".stripMargin)
    for (i <- 1 to maxHops) {
      fwd.append(s""",
        |f$i AS MATERIALIZED (SELECT f.s, e.v AS v, CAST(SUM(f.sigma) AS BIGINT) AS sigma
        |  FROM f${i - 1} f JOIN uec e ON f.v = e.u
        |  WHERE NOT EXISTS (SELECT 1 FROM c${i - 1} c WHERE c.s = f.s AND c.v = e.v)
        |  GROUP BY f.s, e.v),
        |c$i AS MATERIALIZED (SELECT s, v FROM c${i - 1} UNION ALL SELECT s, v FROM f$i)""".stripMargin)
    }
    val bwd = new StringBuilder
    bwd.append(s""",
      |b$maxHops AS MATERIALIZED (SELECT s, v, sigma, CAST(0.0 AS DOUBLE) AS delta FROM f$maxHops)""".stripMargin)
    for (d <- (maxHops - 1) to 1 by -1) {
      bwd.append(s""",
        |b$d AS MATERIALIZED (
        |  SELECT l.s, l.v, l.sigma, COALESCE(a.delta, 0.0) AS delta
        |  FROM f$d l LEFT JOIN (
        |    SELECT u.s, u.v, SUM(CAST(u.sigma AS DOUBLE) / w.sigma * (1.0 + w.delta)) AS delta
        |    FROM f$d u JOIN uec e ON u.v = e.u
        |    JOIN b${d + 1} w ON w.s = u.s AND w.v = e.v
        |    GROUP BY u.s, u.v) a ON a.s = l.s AND a.v = l.v)""".stripMargin)
    }
    val layers = (1 to maxHops).map(d => s"SELECT v, delta FROM b$d").mkString("\n  UNION ALL ")
    s"""WITH eb AS MATERIALIZED (
       |  SELECT DISTINCT CAST(l_orderkey % 900 AS VARCHAR) AS src,
       |    CAST(l_partkey % 900 AS VARCHAR) AS dst
       |  FROM lineitem WHERE (l_orderkey * 31 + l_partkey) % 97 = 0),
       |ue AS (SELECT src AS u, dst AS v FROM eb UNION SELECT dst, src FROM eb),
       |uec AS MATERIALIZED (SELECT u, v FROM ue WHERE u <> v),
       |verts AS MATERIALIZED (SELECT DISTINCT u AS id FROM uec),
       |lm AS MATERIALIZED (SELECT id FROM verts WHERE CAST(id AS BIGINT) % 9 = 0),
       |${fwd.toString}${bwd.toString},
       |alld AS ($layers),
       |bc AS (SELECT v, SUM(delta) AS b FROM alld GROUP BY v)
       |SELECT verts.id, CAST(ROUND(COALESCE(bc.b, 0.0), 4) AS DOUBLE) AS betweenness
       |FROM verts LEFT JOIN bc ON verts.id = bc.v
       |ORDER BY CAST(verts.id AS BIGINT)""".stripMargin
  }

  /** alg_mis oracle: deterministic Luby replayed round by round. The
    * (priority, id) lexicographic compare is encoded as one BIGINT key
    * p·2³² + id (priority < 2³¹, ids < 2³² — exact and order-identical
    * to the Spark side's struct comparison). Rounds past convergence
    * are empty on both sides, so a fixed unroll matches the early-stop
    * loop. */
  /** alg_coloring oracle: the Jones–Plassmann rounds replayed as
    * MATERIALIZED CTEs — fixed composite priority p·2³² + id, per-round
    * ready set (strictly greatest among live neighbors), and the mex
    * color from list_filter over the colored-neighbor color list. */
  private def coloringOracleSql(rounds: Int): String = {
    val chain = (1 to rounds).map { r =>
      s"""mx$r AS MATERIALIZED (SELECT e.u AS id, MAX(p.p * 4294967296 + p.id) AS mk
         |  FROM e${r - 1} e JOIN pri p ON p.id = e.v GROUP BY e.u),
         |w$r AS MATERIALIZED (SELECT l.id FROM l${r - 1} l
         |  JOIN pri p ON p.id = l.id
         |  LEFT JOIN mx$r m ON m.id = l.id
         |  WHERE m.id IS NULL OR p.p * 4294967296 + p.id > m.mk),
         |u$r AS MATERIALIZED (SELECT w.id,
         |    list(DISTINCT CAST(c.color AS BIGINT)) AS used
         |  FROM w$r w JOIN ue e ON e.u = w.id JOIN c${r - 1} c ON c.id = e.v
         |  GROUP BY w.id),
         |n$r AS MATERIALIZED (SELECT w.id,
         |  CAST(COALESCE(list_min(list_filter(range(0, len(u.used) + 1),
         |    x -> NOT list_contains(u.used, x))), 0) AS INTEGER) AS color
         |  FROM w$r w LEFT JOIN u$r u ON u.id = w.id),
         |c$r AS MATERIALIZED (SELECT id, color FROM c${r - 1}
         |  UNION ALL SELECT id, color FROM n$r),
         |l$r AS MATERIALIZED (SELECT id FROM l${r - 1}
         |  WHERE id NOT IN (SELECT id FROM n$r)),
         |e$r AS MATERIALIZED (SELECT e.u, e.v FROM e${r - 1} e
         |  JOIN l$r a ON e.u = a.id JOIN l$r b ON e.v = b.id)""".stripMargin
    }.mkString(",\n")
    val union = (1 to rounds)
      .map(r => s"SELECT id, color, $r AS round FROM n$r").mkString("\n  UNION ALL ")
    s"""WITH eb AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey % 900 AS src, l_partkey % 900 AS dst
       |  FROM lineitem WHERE (l_orderkey * 31 + l_partkey) % 97 = 0),
       |ue AS MATERIALIZED (
       |  SELECT u, v FROM (SELECT src AS u, dst AS v FROM eb
       |                    UNION SELECT dst, src FROM eb) WHERE u <> v),
       |l0 AS MATERIALIZED (SELECT DISTINCT u AS id FROM ue),
       |pri AS MATERIALIZED (SELECT id,
       |  (1103515245 * (id * 1000003 + 101) + 12345) % 2147483647 AS p FROM l0),
       |c0 AS MATERIALIZED (SELECT id, 0 AS color FROM l0 WHERE FALSE),
       |e0 AS MATERIALIZED (SELECT u, v FROM ue),
       |$chain
       |SELECT id, color, round FROM (
       |  $union)
       |ORDER BY id""".stripMargin
  }

  private def misOracleSql(rounds: Int): String = {
    val chain = (1 to rounds).map { r =>
      s"""p$r AS MATERIALIZED (SELECT id,
         |  (1103515245 * (id * 1000003 + $r * 101) + 12345) % 2147483647 AS p
         |  FROM l${r - 1}),
         |mn$r AS MATERIALIZED (SELECT e.u AS id, MIN(p.p * 4294967296 + p.id) AS mk
         |  FROM e${r - 1} e JOIN p$r p ON e.v = p.id GROUP BY e.u),
         |w$r AS MATERIALIZED (SELECT p.id FROM p$r p
         |  LEFT JOIN mn$r m ON p.id = m.id
         |  WHERE m.id IS NULL OR (p.p * 4294967296 + p.id) < m.mk),
         |rm$r AS MATERIALIZED (SELECT id FROM w$r
         |  UNION SELECT e.v FROM e${r - 1} e JOIN w$r w ON e.u = w.id),
         |l$r AS MATERIALIZED (SELECT id FROM l${r - 1}
         |  WHERE id NOT IN (SELECT id FROM rm$r)),
         |e$r AS MATERIALIZED (SELECT e.u, e.v FROM e${r - 1} e
         |  JOIN l$r a ON e.u = a.id JOIN l$r b ON e.v = b.id)""".stripMargin
    }.mkString(",\n")
    val union = (1 to rounds)
      .map(r => s"SELECT id, $r AS round FROM w$r").mkString("\n  UNION ALL ")
    s"""WITH eb AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey % 900 AS src, l_partkey % 900 AS dst
       |  FROM lineitem WHERE (l_orderkey * 31 + l_partkey) % 97 = 0),
       |ue AS (SELECT src AS u, dst AS v FROM eb UNION SELECT dst, src FROM eb),
       |e0 AS MATERIALIZED (SELECT u, v FROM ue WHERE u <> v),
       |l0 AS MATERIALIZED (SELECT DISTINCT u AS id FROM e0),
       |$chain
       |SELECT id, round FROM (
       |  $union)
       |ORDER BY id""".stripMargin
  }

  /** Shared CTE body for the HyperANF oracles: the nsketch edge
    * fixture, per-vertex HLL r0 registers (hllRegistersOracleSql digit
    * recipe), and one union + grouped MAX per hop → r0..r`hops`. */
  private def nsketchRegisterCtes(hops: Int): String = {
    val chain = (1 to hops).map { t =>
      s"""r$t AS MATERIALIZED (SELECT id, bucket, MAX(rho) AS rho FROM (
         |    SELECT id, bucket, rho FROM r${t - 1}
         |    UNION ALL
         |    SELECT e.v AS id, r.bucket, r.rho FROM e
         |    JOIN r${t - 1} r ON e.u = r.id)
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    s"""eb AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey % 900 AS src, l_partkey % 900 AS dst
       |  FROM lineitem WHERE (l_orderkey * 31 + l_partkey) % 97 = 0),
       |e AS MATERIALIZED (SELECT DISTINCT u, v FROM (
       |    SELECT src AS u, dst AS v FROM eb UNION ALL SELECT dst, src FROM eb)
       |  WHERE u <> v),
       |verts AS (SELECT DISTINCT u AS id FROM e),
       |h AS (SELECT id, md5(CAST(id AS VARCHAR)) AS m FROM verts),
       |z AS (SELECT id,
       |  ${hvSql("substr(m, 1, 1)")} * 16 + ${hvSql("substr(m, 2, 1)")} AS bucket,
       |  substr(m, 3, 16) AS w FROM h),
       |r0 AS MATERIALIZED (SELECT id, bucket,
       |  CASE WHEN nz = 16 THEN 65
       |    ELSE 4 * nz + (CASE WHEN d = 1 THEN 3 WHEN d <= 3 THEN 2
       |                        WHEN d <= 7 THEN 1 ELSE 0 END) + 1 END AS rho
       |  FROM (SELECT id, bucket, nz,
       |          ${hvSql("substr(w, CAST(nz + 1 AS INTEGER), 1)")} AS d
       |        FROM (SELECT id, bucket, w,
       |                len(regexp_extract(w, '^0*')) AS nz FROM z))),
       |$chain""".stripMargin
  }

  /** alg_nsketch oracle: per-vertex HLL registers max-merged hop by hop
    * — the r0 bucket/rho digits are the hllRegistersOracleSql recipe,
    * each later hop is one union + grouped MAX. */
  private def nsketchOracleSql(hops: Int): String = {
    val union = (0 to hops)
      .map(t => s"SELECT $t AS hop, id, bucket, rho AS max_rho FROM r$t")
      .mkString("\n  UNION ALL ")
    s"""WITH ${nsketchRegisterCtes(hops)}
       |SELECT hop, id, CAST(bucket AS INTEGER) AS bucket,
       |  CAST(max_rho AS INTEGER) AS max_rho
       |FROM (
       |  $union)
       |WHERE id % 90 = 0
       |ORDER BY hop, id, bucket""".stripMargin
  }

  /** alg_eff_diameter oracle: the HyperANF READ path replayed — per
    * (hop, id) the registers collapse to the HLL estimate (alpha·m²
    * over the zero-padded 2^-rho sum, linear-counting branch below
    * 2.5·m — the exact [[graft.pipeline.Sketches.hllEstimateCol]]
    * expression, same association order), N(t) = Σ_v estimate, and the
    * effective hop is the first t with N(t) ≥ q·N(hops). N(t) sums
    * doubles, so both engines round to 4 decimals (drift ~1e-12,
    * granule 1e-4 — the pagerank precedent); the effective flag
    * compares whole-hop jumps against the target, far from any
    * float boundary. */
  private def effDiameterOracleSql(hops: Int, q: Double): String = {
    val union = (0 to hops)
      .map(t => s"SELECT $t AS hop, id, rho FROM r$t")
      .mkString("\n  UNION ALL ")
    s"""WITH ${nsketchRegisterCtes(hops)},
       |allr AS (
       |  $union),
       |pid AS (SELECT hop, id, SUM(POWER(2.0, -CAST(rho AS DOUBLE))) AS s,
       |    COUNT(*) AS nonzero
       |  FROM allr GROUP BY hop, id),
       |perhop AS (SELECT hop,
       |    SUM(CASE WHEN raw <= 640.0 AND zeros > 0
       |        THEN 256.0 * ln(256.0 / zeros) ELSE raw END) AS n
       |  FROM (SELECT hop, 256.0 - CAST(nonzero AS DOUBLE) AS zeros,
       |          0.7213 / (1.0 + 1.079 / 256) * 256 * 256
       |            / (s + (256.0 - CAST(nonzero AS DOUBLE))) AS raw
       |        FROM pid) GROUP BY hop),
       |lastn AS (SELECT n AS nl FROM perhop WHERE hop = $hops),
       |eff AS (SELECT MIN(hop) AS e FROM perhop, lastn WHERE n >= $q * nl)
       |SELECT p.hop, ROUND(p.n, 4) AS n_estimate, p.hop = eff.e AS effective
       |FROM perhop p, eff ORDER BY p.hop""".stripMargin
  }

  /** alg_matching oracle: the deterministic edge-local-minimum matching
    * replayed round by round. The (priority, u, v) lexicographic compare
    * is one BIGINT key p·2³² + u·2¹⁶ + v (priority < 2³¹ and fixture
    * ids < 900 < 2¹⁶ — exact and order-identical to the Spark side's
    * struct comparison). Rounds past convergence are empty on both
    * sides, so a fixed unroll matches the early-stop loop. */
  /** Shared WITH-body for the matching/coarsening oracles: the canonical
    * mod-900 fixture edges (e0) plus the per-round matching chain —
    * exposes w1..w$rounds (the per-round winners). */
  private def matchingChainCtes(rounds: Int): String = {
    val chain = (1 to rounds).map { r =>
      s"""k$r AS MATERIALIZED (SELECT u, v,
         |  ((1103515245 * (u * 1000003 + v * 7919 + $r * 101) + 12345)
         |   % 2147483647) * 4294967296 + u * 65536 + v AS k
         |  FROM e${r - 1}),
         |mn$r AS MATERIALIZED (SELECT id, MIN(k) AS mk FROM (
         |    SELECT u AS id, k FROM k$r UNION ALL SELECT v, k FROM k$r)
         |  GROUP BY id),
         |w$r AS MATERIALIZED (SELECT k.u, k.v FROM k$r k
         |  JOIN mn$r a ON a.id = k.u JOIN mn$r b ON b.id = k.v
         |  WHERE k.k = a.mk AND k.k = b.mk),
         |m$r AS (SELECT u AS id FROM w$r UNION SELECT v FROM w$r),
         |e$r AS MATERIALIZED (SELECT e.u, e.v FROM e${r - 1} e
         |  WHERE e.u NOT IN (SELECT id FROM m$r)
         |    AND e.v NOT IN (SELECT id FROM m$r))""".stripMargin
    }.mkString(",\n")
    s"""eb AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey % 900 AS src, l_partkey % 900 AS dst
       |  FROM lineitem WHERE (l_orderkey * 31 + l_partkey) % 97 = 0),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
       |  FROM eb WHERE src <> dst),
       |$chain""".stripMargin
  }

  private def matchingOracleSql(rounds: Int): String = {
    val union = (1 to rounds)
      .map(r => s"SELECT u, v, $r AS round FROM w$r").mkString("\n  UNION ALL ")
    s"""WITH ${matchingChainCtes(rounds)}
       |SELECT u, v, round FROM (
       |  $union)
       |ORDER BY u, v""".stripMargin
  }

  /** alg_coarsen oracle: the matching chain, then every matched pair
    * contracts into its smaller endpoint, fine edges re-map through the
    * contraction, internal edges vanish and parallel coarse edges merge
    * with an absorbed-edge count. */
  private def coarsenOracleSql(rounds: Int): String = {
    val union = (1 to rounds)
      .map(r => s"SELECT u, v FROM w$r").mkString("\n  UNION ALL ")
    s"""WITH ${matchingChainCtes(rounds)},
       |mt AS MATERIALIZED (
       |  $union),
       |re AS (SELECT COALESCE(mu.u, e.u) AS a, COALESCE(mv.u, e.v) AS b
       |  FROM e0 e
       |  LEFT JOIN mt mu ON mu.v = e.u
       |  LEFT JOIN mt mv ON mv.v = e.v)
       |SELECT LEAST(a, b) AS src, GREATEST(a, b) AS dst,
       |  COUNT(*) AS weight
       |FROM re WHERE a <> b
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin
  }

  /** alg_coarsen_hem oracle: the WEIGHTED matching chain — per-label
    * best incident edge under (w DESC, lcg, u, v) via a multi-key
    * ROW_NUMBER (no bit packing needed), two-sided winner join,
    * endpoint removal; then the contraction re-map with SUMMED absorbed
    * weights. Canonical fine edges sum parallel weights (the multigraph
    * convention). */
  private def coarsenHemOracleSql(rounds: Int): String = {
    val chain = (1 to rounds).map { r =>
      s"""p$r AS MATERIALIZED (SELECT u, v, w,
         |  (1103515245 * (u * 1000003 + v * 7919 + $r * 101) + 12345)
         |    % 2147483647 AS p
         |  FROM e${r - 1}),
         |rn$r AS MATERIALIZED (SELECT id, eu, ev,
         |  ROW_NUMBER() OVER (PARTITION BY id ORDER BY w DESC, p, eu, ev) AS rn
         |  FROM (SELECT u AS id, u AS eu, v AS ev, w, p FROM p$r
         |        UNION ALL SELECT v, u, v, w, p FROM p$r)),
         |mn$r AS MATERIALIZED (SELECT id, eu, ev FROM rn$r WHERE rn = 1),
         |w$r AS MATERIALIZED (SELECT p.u, p.v FROM p$r p
         |  JOIN mn$r a ON a.id = p.u AND a.eu = p.u AND a.ev = p.v
         |  JOIN mn$r b ON b.id = p.v AND b.eu = p.u AND b.ev = p.v),
         |m$r AS (SELECT u AS id FROM w$r UNION SELECT v FROM w$r),
         |e$r AS MATERIALIZED (SELECT e.u, e.v, e.w FROM e${r - 1} e
         |  WHERE e.u NOT IN (SELECT id FROM m$r)
         |    AND e.v NOT IN (SELECT id FROM m$r))""".stripMargin
    }.mkString(",\n")
    val union = (1 to rounds)
      .map(r => s"SELECT u, v FROM w$r").mkString("\n  UNION ALL ")
    s"""WITH eb AS MATERIALIZED (
       |  SELECT l_orderkey % 900 AS src, l_partkey % 900 AS dst,
       |    (l_orderkey * 13 + l_partkey * 3) % 100 + 1 AS w
       |  FROM lineitem WHERE (l_orderkey * 31 + l_partkey) % 97 = 0),
       |e0 AS MATERIALIZED (
       |  SELECT LEAST(src, dst) AS u, GREATEST(src, dst) AS v,
       |    CAST(SUM(w) AS BIGINT) AS w
       |  FROM eb WHERE src <> dst GROUP BY 1, 2),
       |$chain,
       |mt AS MATERIALIZED (
       |  $union),
       |re AS (SELECT COALESCE(mu.u, e.u) AS a, COALESCE(mv.u, e.v) AS b, e.w
       |  FROM e0 e
       |  LEFT JOIN mt mu ON mu.v = e.u
       |  LEFT JOIN mt mv ON mv.v = e.v)
       |SELECT LEAST(a, b) AS src, GREATEST(a, b) AS dst,
       |  CAST(SUM(w) AS BIGINT) AS weight
       |FROM re WHERE a <> b
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin
  }

  /** alg_mst oracle: Borůvka replayed round by round. The strict edge
    * key (w, cu, cv) packs into one BIGINT w·2²⁰ + cu·2¹⁰ + cv (fixture
    * weights ≤ 100, ids < 900 < 2¹⁰ — order-identical to the Spark
    * side's struct comparison); each round materializes the per-label
    * best edge, the pointer graph with its 2-cycles broken at the
    * smaller label, ten pointer-doubling steps (2¹⁰ ≥ any chain length
    * at 900 labels), and the contraction merge keeping the minimum
    * (w, ul, vl) fine edge per coarse pair. Rounds past convergence are
    * empty on both sides. */
  private def mstOracleSql(rounds: Int): String = {
    val jumps = 10
    def key(a: String) = s"$a.w * 1048576 + $a.cu * 1024 + $a.cv"
    val chain = (1 to rounds).map { r =>
      val jumpCtes = (1 to jumps).map { j =>
        s"""q${r}_$j AS MATERIALIZED (SELECT x.lbl, y.ptr
           |  FROM q${r}_${j - 1} x JOIN q${r}_${j - 1} y ON x.ptr = y.lbl)""".stripMargin
      }.mkString(",\n")
      s"""b$r AS MATERIALIZED (SELECT lbl, MIN(k) AS mk FROM (
         |    SELECT cu AS lbl, ${key("s")} AS k FROM s${r - 1} s
         |    UNION ALL SELECT cv, ${key("s")} FROM s${r - 1} s)
         |  GROUP BY lbl),
         |sel$r AS MATERIALIZED (SELECT DISTINCT s.ul AS u, s.vl AS v, s.w
         |  FROM s${r - 1} s JOIN b$r b ON ${key("s")} = b.mk),
         |p$r AS MATERIALIZED (SELECT b.lbl,
         |    CASE WHEN s.cu = b.lbl THEN s.cv ELSE s.cu END AS ptr
         |  FROM b$r b JOIN s${r - 1} s ON ${key("s")} = b.mk),
         |q${r}_0 AS MATERIALIZED (SELECT x.lbl,
         |    CASE WHEN y.ptr = x.lbl THEN LEAST(x.lbl, x.ptr) ELSE x.ptr END AS ptr
         |  FROM p$r x JOIN p$r y ON x.ptr = y.lbl),
         |$jumpCtes,
         |s$r AS MATERIALIZED (SELECT cu, cv, ul, vl, w FROM (
         |    SELECT LEAST(ju.ptr, jv.ptr) AS cu, GREATEST(ju.ptr, jv.ptr) AS cv,
         |      s.ul, s.vl, s.w,
         |      ROW_NUMBER() OVER (
         |        PARTITION BY LEAST(ju.ptr, jv.ptr), GREATEST(ju.ptr, jv.ptr)
         |        ORDER BY s.w, s.ul, s.vl) AS rn
         |    FROM s${r - 1} s
         |    JOIN q${r}_$jumps ju ON ju.lbl = s.cu
         |    JOIN q${r}_$jumps jv ON jv.lbl = s.cv
         |    WHERE ju.ptr <> jv.ptr)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val union = (1 to rounds)
      .map(r => s"SELECT u, v, w FROM sel$r").mkString("\n  UNION ALL ")
    s"""WITH eb AS MATERIALIZED (
       |  SELECT l_orderkey % 900 AS src, l_partkey % 900 AS dst,
       |    (l_orderkey * 7 + l_partkey * 13) % 100 + 1 AS w
       |  FROM lineitem WHERE (l_orderkey * 31 + l_partkey) % 97 = 0),
       |s0 AS MATERIALIZED (
       |  SELECT LEAST(src, dst) AS cu, GREATEST(src, dst) AS cv,
       |    LEAST(src, dst) AS ul, GREATEST(src, dst) AS vl, MIN(w) AS w
       |  FROM eb WHERE src <> dst GROUP BY 1, 2, 3, 4),
       |$chain
       |SELECT u, v, w AS weight FROM (
       |  $union)
       |ORDER BY u, v""".stripMargin
  }

  /** Shared WITH-body for the walk oracles: ranked adjacency + the
    * per-step LCG draw replayed as chained MATERIALIZED CTEs — all
    * positive-integer arithmetic, identical mod semantics both engines.
    * Exposes w0..w$steps plus `allsteps(wid, step, id)`. */
  private def randomWalksCtes(steps: Int): String = {
    val chain = (1 to steps).map { t =>
      s"""w$t AS MATERIALIZED (SELECT w.wid, a.v FROM w${t - 1} w
         |  JOIN dg ON dg.u = w.v
         |  JOIN adj a ON a.u = w.v AND a.rk =
         |    ((1103515245 * (w.wid * 1000003 + $t * 101) + 12345) % 2147483647) % dg.d + 1)""".stripMargin
    }.mkString(",\n")
    val union = (0 to steps)
      .map(t => s"SELECT wid, $t AS step, v AS id FROM w$t").mkString("\n  UNION ALL ")
    s"""eb AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey % 900 AS src, l_partkey % 900 AS dst
       |  FROM lineitem WHERE (l_orderkey * 31 + l_partkey) % 97 = 0),
       |ue AS (SELECT src AS u, dst AS v FROM eb UNION SELECT dst, src FROM eb),
       |uec AS MATERIALIZED (SELECT u, v FROM ue WHERE u <> v),
       |adj AS MATERIALIZED (SELECT u, v,
       |  ROW_NUMBER() OVER (PARTITION BY u ORDER BY v) AS rk FROM uec),
       |dg AS MATERIALIZED (SELECT u, MAX(rk) AS d FROM adj GROUP BY u),
       |w0 AS MATERIALIZED (SELECT DISTINCT u AS wid, u AS v FROM uec WHERE u % 9 = 0),
       |$chain,
       |allsteps AS MATERIALIZED (SELECT wid, step, id FROM (
       |  $union))""".stripMargin
  }

  /** alg_weighted_walks oracle: the walk chain with weighted transition
    * replay — exact integer cumulative weights per ordered neighbor, the
    * chosen row is the [cw-w, cw) interval containing draw mod total. */
  private def weightedWalksOracleSql(steps: Int): String = {
    val chain = (1 to steps).map { t =>
      s"""w$t AS MATERIALIZED (SELECT w.wid, a.v FROM w${t - 1} w
         |  JOIN twt ON twt.u = w.v
         |  JOIN wadj a ON a.u = w.v
         |    AND ((1103515245 * (w.wid * 1000003 + $t * 101) + 12345) % 2147483647) % twt.tw
         |        BETWEEN a.cw - a.w AND a.cw - 1)""".stripMargin
    }.mkString(",\n")
    val union = (0 to steps)
      .map(t => s"SELECT wid, $t AS step, v AS id FROM w$t").mkString("\n  UNION ALL ")
    s"""WITH eb AS MATERIALIZED (
       |  SELECT l_orderkey % 900 AS src, l_partkey % 900 AS dst,
       |         (l_orderkey % 900 + l_partkey % 900) % 7 + 1 AS w
       |  FROM lineitem WHERE (l_orderkey * 31 + l_partkey) % 97 = 0),
       |ue AS (SELECT src AS u, dst AS v, w FROM eb
       |       UNION ALL SELECT dst, src, w FROM eb),
       |uec AS MATERIALIZED (
       |  SELECT u, v, CAST(SUM(w) AS BIGINT) AS w FROM ue WHERE u <> v GROUP BY 1, 2),
       |wadj AS MATERIALIZED (SELECT u, v, w,
       |  CAST(SUM(w) OVER (PARTITION BY u ORDER BY v
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw FROM uec),
       |twt AS MATERIALIZED (SELECT u, MAX(cw) AS tw FROM wadj GROUP BY u),
       |w0 AS MATERIALIZED (SELECT DISTINCT u AS wid, u AS v FROM uec WHERE u % 9 = 0),
       |$chain,
       |allsteps AS MATERIALIZED (SELECT wid, step, id FROM (
       |  $union))
       |SELECT wid, step, id FROM allsteps ORDER BY wid, step""".stripMargin
  }

  private def randomWalksOracleSql(steps: Int): String =
    s"""WITH ${randomWalksCtes(steps)}
       |SELECT wid, step, id FROM allsteps ORDER BY wid, step""".stripMargin

  /** alg_node2vec_walks oracle: uniform first step, then per step the
    * candidate set (frontier × adjacency) with the scaled integer bias
    * {q return, p·q neighbor-of-prev, p otherwise}, walk-partitioned
    * cumulative/total windows, and the LCG-draw interval pick — the
    * exact replay of [[GraphAlgorithms.node2vecWalks]]. */
  private def node2vecWalksOracleSql(steps: Int, p: Int, q: Int): String = {
    val chain = (2 to steps).map { t =>
      s"""c$t AS MATERIALIZED (
         |  SELECT w.wid, w.v AS cu, w.prev, a.v,
         |    CASE WHEN a.v = w.prev THEN $q
         |         WHEN n.u IS NOT NULL THEN ${p * q}
         |         ELSE $p END AS bw
         |  FROM w${t - 1} w
         |  JOIN adj a ON a.u = w.v
         |  LEFT JOIN uec n ON n.u = w.prev AND n.v = a.v),
         |d$t AS MATERIALIZED (
         |  SELECT wid, cu, v, bw,
         |    CAST(SUM(bw) OVER (PARTITION BY wid ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw,
         |    CAST(SUM(bw) OVER (PARTITION BY wid) AS BIGINT) AS tw
         |  FROM c$t),
         |w$t AS MATERIALIZED (
         |  SELECT wid, cu AS prev, v FROM d$t
         |  WHERE ((1103515245 * (wid * 1000003 + $t * 101) + 12345) % 2147483647) % tw
         |        BETWEEN cw - bw AND cw - 1)""".stripMargin
    }.mkString(",\n")
    val union = (0 to steps)
      .map(t => s"SELECT wid, $t AS step, v AS id FROM w$t").mkString("\n  UNION ALL ")
    s"""WITH eb AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey % 900 AS src, l_partkey % 900 AS dst
       |  FROM lineitem WHERE (l_orderkey * 31 + l_partkey) % 97 = 0),
       |ue AS (SELECT src AS u, dst AS v FROM eb UNION SELECT dst, src FROM eb),
       |uec AS MATERIALIZED (SELECT u, v FROM ue WHERE u <> v),
       |adj AS MATERIALIZED (SELECT u, v,
       |  ROW_NUMBER() OVER (PARTITION BY u ORDER BY v) AS rk FROM uec),
       |dg AS MATERIALIZED (SELECT u, MAX(rk) AS d FROM adj GROUP BY u),
       |w0 AS MATERIALIZED (SELECT DISTINCT u AS wid, u AS v FROM uec WHERE u % 9 = 0),
       |w1 AS MATERIALIZED (SELECT w.wid, w.v AS prev, a.v FROM w0 w
       |  JOIN dg ON dg.u = w.v
       |  JOIN adj a ON a.u = w.v AND a.rk =
       |    ((1103515245 * (w.wid * 1000003 + 101) + 12345) % 2147483647) % dg.d + 1),
       |$chain
       |SELECT wid, step, id FROM (
       |  $union)
       |ORDER BY wid, step""".stripMargin
  }

  /** alg_walk_pairs oracle: the walk chain + the banded self-join on
    * walk id and the (center, context) count aggregate. */
  private def walkPairsOracleSql(steps: Int, window: Int): String =
    s"""WITH ${randomWalksCtes(steps)}
       |SELECT a.id AS center, b.id AS context, COUNT(*) AS cnt
       |FROM allsteps a JOIN allsteps b
       |  ON a.wid = b.wid AND a.step <> b.step AND ABS(a.step - b.step) <= $window
       |GROUP BY 1, 2
       |ORDER BY center, context""".stripMargin

  /** alg_walk_ppmi oracle: pair counts + marginals + total from the same
    * replayed walk table; LN argument assembled in the identical
    * (cnt·N)/(cc·cx) shape before the single round-6 transcendental. */
  private def walkPpmiOracleSql(steps: Int, window: Int): String =
    s"""WITH ${randomWalksCtes(steps)},
       |pairs AS MATERIALIZED (
       |  SELECT a.id AS center, b.id AS context, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM allsteps a JOIN allsteps b
       |    ON a.wid = b.wid AND a.step <> b.step AND ABS(a.step - b.step) <= $window
       |  GROUP BY 1, 2),
       |cn AS (SELECT center, CAST(SUM(cnt) AS BIGINT) AS cc FROM pairs GROUP BY 1),
       |cx AS (SELECT context, CAST(SUM(cnt) AS BIGINT) AS cx FROM pairs GROUP BY 1),
       |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM pairs)
       |SELECT center, context, cnt,
       |  CAST(ROUND(GREATEST(0.0, LN(CAST(cnt AS DOUBLE) * n / (cc * cx))), 6) AS DOUBLE) AS ppmi
       |FROM pairs JOIN cn USING (center) JOIN cx USING (context) CROSS JOIN tot
       |ORDER BY center, context""".stripMargin

  /** kg_construct oracle: replay chunk → ALL-matches 3-group regex →
    * triple dedup → edge projection. Parallel unnest of the per-group
    * regexp_extract_all arrays zips positionally (equal lengths by
    * construction); leftmost-first non-overlapping matching is the same
    * in Java regex and RE2 for this alternation-of-literals pattern. */
  private def kgConstructOracleSql: String = {
    val pat = graft.pipeline.KgConstruction.lexiconPattern
    s"""WITH chunks AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(text, '[.!?]+')) AS chunk FROM documents),
       |nz AS (SELECT doc_id, chunk FROM chunks WHERE length(trim(chunk)) > 0),
       |ext AS (
       |  SELECT unnest(regexp_extract_all(chunk, '$pat', 1)) AS subj,
       |         unnest(regexp_extract_all(chunk, '$pat', 2)) AS rel,
       |         unnest(regexp_extract_all(chunk, '$pat', 3)) AS obj
       |  FROM nz),
       |t AS (SELECT DISTINCT subj, rel, obj FROM ext
       |      WHERE subj <> '' AND rel <> '' AND obj <> '')
       |SELECT subj AS src, obj AS dst, regexp_replace(upper(rel), '\\s+', '_', 'g') AS type
       |FROM t ORDER BY 1, 2, 3""".stripMargin
  }

  /** Beam-search oracle: the hop loop unrolled into chained CTEs (the
    * same technique as the PageRank oracle) — seed top-w by cosine, per
    * hop expand frontier over edges, re-score, keep earliest hop per node,
    * cut back to the beam width with (score DESC, id) ties. */
  private def beamSearchOracleSql(beamWidth: Int, hops: Int): String = {
    val chain = new StringBuilder
    chain.append(
      s"""nodes AS (SELECT CAST(vec_id AS VARCHAR) AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
         |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 0),
         |edges AS (SELECT DISTINCT CAST(l_orderkey % 500 AS VARCHAR) AS src,
         |                          CAST(l_partkey % 500 AS VARCHAR) AS dst FROM lineitem),
         |scored AS (SELECT id, list_cosine_similarity(vec, (SELECT qvec FROM q)) AS score FROM nodes),
         |b0 AS (SELECT id, score, 0 AS hop FROM scored ORDER BY score DESC, id LIMIT $beamWidth)""".stripMargin)
    for (h <- 1 to hops) {
      chain.append(s""",
        |f$h AS (SELECT DISTINCT e.dst AS id FROM b${h - 1} t JOIN edges e ON t.id = e.src),
        |r$h AS (SELECT s.id, s.score, $h AS hop FROM f$h JOIN scored s ON f$h.id = s.id),
        |u$h AS (SELECT id, score, hop FROM (
        |    SELECT id, score, hop, ROW_NUMBER() OVER (PARTITION BY id ORDER BY hop) AS rn
        |    FROM (SELECT * FROM b${h - 1} UNION ALL SELECT * FROM r$h)) WHERE rn = 1),
        |b$h AS (SELECT id, score, hop FROM u$h ORDER BY score DESC, id LIMIT $beamWidth)""".stripMargin)
    }
    s"WITH ${chain.toString}\n" +
      s"SELECT id, CAST(ROUND(score, 6) AS DOUBLE) AS score, hop FROM b$hops ORDER BY score DESC, id"
  }

  /** Path-beam oracle: [[graft.pipeline.Similarity.pathBeamSearch]]'s hop
    * loop unrolled into chained CTEs. Each hop: candidates from the beam
    * along edges (skipping immediate backtracks via path[-2]), expansions
    * append the destination and add (dest cosine + type cosine) to the
    * running score, dead-end beam rows (no candidate) are emitted, and
    * the next beam is the top-w expansions by (score DESC, sig) — sig is
    * the chr(1)-joined id string, the same collision-free tie-break the
    * Spark side carries. */
  private def pathBeamOracleSql(beamWidth: Int, hops: Int): String = {
    val chain = new StringBuilder
    chain.append(
      s"""nodes AS (SELECT CAST(vec_id AS VARCHAR) AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
         |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 0),
         |s AS (SELECT id, list_cosine_similarity(vec, (SELECT qvec FROM q)) AS ns FROM nodes),
         |te AS (SELECT 't' || CAST(vec_id - 10 AS VARCHAR) AS type,
         |  list_cosine_similarity(CAST(embedding AS DOUBLE[]), (SELECT qvec FROM q)) AS ts
         |  FROM embeddings WHERE vec_id >= 10 AND vec_id < 14),
         |e0 AS (SELECT DISTINCT CAST(l_orderkey % 500 AS VARCHAR) AS src,
         |  CAST(l_partkey % 500 AS VARCHAR) AS dst,
         |  't' || CAST((l_orderkey + l_partkey) % 4 AS VARCHAR) AS type FROM lineitem),
         |e AS (SELECT e0.src, e0.dst, COALESCE(te.ts, 0.0) AS ts
         |  FROM e0 LEFT JOIN te ON e0.type = te.type),
         |b0 AS (SELECT [id] AS path, id AS last, id AS sig, ns AS score
         |  FROM s ORDER BY ns DESC, id LIMIT $beamWidth)""".stripMargin)
    for (h <- 1 to hops) {
      chain.append(s""",
        |c$h AS (SELECT b.path, b.sig, b.score, e.dst, e.ts FROM b${h - 1} b
        |  JOIN e ON e.src = b.last
        |  WHERE len(b.path) < 2 OR e.dst <> b.path[-2]),
        |x$h AS (SELECT list_append(c.path, c.dst) AS path, c.dst AS last,
        |    c.sig || chr(1) || c.dst AS sig, c.score + s.ns + c.ts AS score
        |  FROM c$h c JOIN s ON s.id = c.dst),
        |d$h AS (SELECT * FROM b${h - 1} WHERE sig NOT IN (SELECT sig FROM c$h)),
        |b$h AS (SELECT path, last, sig, score FROM x$h
        |  ORDER BY score DESC, sig LIMIT $beamWidth)""".stripMargin)
    }
    val emitted = (1 to hops).map(h => s"SELECT * FROM d$h").mkString(" UNION ALL ")
    s"WITH ${chain.toString}\n" +
      s"""SELECT array_to_string(path, '->') AS path, last AS id,
         |  CAST(ROUND(score, 6) AS DOUBLE) AS score,
         |  CAST(len(path) - 1 AS INTEGER) AS hop
         |FROM ($emitted UNION ALL SELECT * FROM b$hops)
         |ORDER BY score DESC, path""".stripMargin
  }

  /** mm_features oracle: modality assignment + the stub's byte-sum
    * width/height math replayed over the UTF-8 payload (the corpus is
    * pure ASCII, so codepoints ARE the payload bytes). */
  private def mmFeaturesOracleSql: String =
    """WITH a AS (
      |  SELECT doc_id AS asset_id,
      |    ['image','audio','video'][CAST(doc_id % 3 AS INTEGER) + 1] AS modality,
      |    text FROM documents),
      |s AS (
      |  SELECT asset_id, modality,
      |    COALESCE(list_sum(list_transform(range(1, length(text) + 1),
      |      i -> unicode(substr(text, CAST(i AS INTEGER), 1)))), 0) AS bsum,
      |    COALESCE(list_sum(list_transform(range(1, length(text) + 1),
      |      i -> i * unicode(substr(text, CAST(i AS INTEGER), 1)))), 0) AS wsum
      |  FROM a)
      |SELECT asset_id, modality,
      |  CAST(bsum % 1024 + 1 AS INTEGER) AS width,
      |  CAST(wsum % 768 + 1 AS INTEGER) AS height,
      |  CAST(CASE WHEN modality = 'audio' THEN 1 ELSE 3 END AS INTEGER) AS channels
      |FROM s ORDER BY asset_id""".stripMargin

  /** SQL fragment: integer value of the lowercase hex char expression. */
  private def hvSql(e: String): String =
    s"(CASE WHEN ascii($e) >= 97 THEN ascii($e) - 87 ELSE ascii($e) - 48 END)"

  /** 56-bit KMV hash in SQL: the first 14 md5 hex digits, digit-summed
    * into one BIGINT (matches `Sketches.kmvHash`'s conv(...,16,10)). */
  private def kmvHashSql(key: String): String = {
    val m = s"md5(CAST($key AS VARCHAR))"
    (1 to 14).map { i =>
      val pw = java.math.BigInteger.valueOf(16L).pow(14 - i)
      s"${hvSql(s"substr($m, $i, 1)")} * CAST($pw AS BIGINT)"
    }.mkString(" + ")
  }

  /** q_kmv_sketch oracle: distinct per-group hashes + ROW_NUMBER bottom-k. */
  private def kmvSketchOracleSql(k: Int): String =
    s"""WITH h AS (SELECT DISTINCT o_orderpriority, ${kmvHashSql("o_custkey")} AS hval
       |  FROM orders WHERE o_custkey IS NOT NULL),
       |r AS (SELECT o_orderpriority, hval,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY hval) AS INTEGER) AS rank
       |  FROM h)
       |SELECT o_orderpriority, rank, hval FROM r WHERE rank <= $k
       |ORDER BY o_orderpriority, rank""".stripMargin

  /** q_kmv_estimate oracle: the sketch CTE + (k−1)·D // h(k) floor
    * arithmetic with the exact-count mode below k. */
  private def kmvEstimateOracleSql(k: Int): String =
    s"""WITH h AS (SELECT DISTINCT o_orderpriority, ${kmvHashSql("o_custkey")} AS hval
       |  FROM orders WHERE o_custkey IS NOT NULL),
       |r AS (SELECT o_orderpriority, hval,
       |  ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY hval) AS rank
       |  FROM h),
       |sk AS (SELECT o_orderpriority, COUNT(*) AS n, MAX(hval) AS hk
       |  FROM r WHERE rank <= $k GROUP BY 1)
       |SELECT o_orderpriority,
       |  CAST(CASE WHEN n < $k THEN n
       |    ELSE (CAST(${k - 1} AS BIGINT) * CAST(72057594037927936 AS BIGINT)) // hk
       |  END AS BIGINT) AS est
       |FROM sk ORDER BY o_orderpriority""".stripMargin

  /** q_hll_registers oracle: bucket/rho replayed digit for digit from
    * the md5 hex string — 4 leading-zero bits per '0' digit plus a CASE
    * on the first non-zero digit. */
  private def hllRegistersOracleSql(table: String, key: String): String =
    s"""WITH h AS (SELECT md5(CAST($key AS VARCHAR)) AS m
       |  FROM $table WHERE $key IS NOT NULL),
       |b AS (SELECT ${hvSql("substr(m, 1, 1)")} * 16 + ${hvSql("substr(m, 2, 1)")} AS bucket,
       |  substr(m, 3, 16) AS w FROM h),
       |z AS (SELECT bucket, w, len(regexp_extract(w, '^0*')) AS nz FROM b),
       |r AS (SELECT bucket,
       |  CASE WHEN nz = 16 THEN 65
       |    ELSE 4 * nz + (CASE WHEN d = 1 THEN 3 WHEN d <= 3 THEN 2
       |                        WHEN d <= 7 THEN 1 ELSE 0 END) + 1 END AS rho
       |  FROM (SELECT bucket, nz,
       |          ${hvSql("substr(w, CAST(nz + 1 AS INTEGER), 1)")} AS d FROM z))
       |SELECT bucket, CAST(MAX(rho) AS INTEGER) AS max_rho
       |FROM r GROUP BY bucket ORDER BY bucket""".stripMargin

  /** q_cms_sketch oracle: identical per-row md5("k:key") column hash and
    * the grouped counter. */
  private def cmsSketchOracleSql(table: String, key: String,
                                 depth: Int, width: Int): String =
    s"""WITH k AS (SELECT CAST($key AS VARCHAR) AS kk
       |  FROM $table WHERE $key IS NOT NULL),
       |c AS (SELECT CAST(r AS INTEGER) AS hrow,
       |  (${hvSql("substr(md5(CAST(r AS VARCHAR) || ':' || kk), 1, 1)")} * 16
       |   + ${hvSql("substr(md5(CAST(r AS VARCHAR) || ':' || kk), 2, 1)")}) % $width AS hcol
       |  FROM k, UNNEST(range(0, $depth)) t(r))
       |SELECT hrow, hcol, CAST(COUNT(*) AS BIGINT) AS cnt
       |FROM c GROUP BY 1, 2 ORDER BY hrow, hcol""".stripMargin

  /** q_cms_estimate oracle: the sketch CTE + min-over-rows lookup for
    * the probe keys. */
  /** q_bloom_probe oracle: identical md5-digit bit positions, 32-bit
    * words BIT_OR'd with `<<` kept under the sign bit, probe = all k
    * bits set. */
  private def bloomProbeOracleSql(bits: Int, k: Int): String = {
    def posSql(key: String): String = {
      val m = s"md5(CAST(r AS VARCHAR) || ':' || CAST($key AS VARCHAR))"
      s"((${hvSql(s"substr($m, 1, 1)")} * 4096 + ${hvSql(s"substr($m, 2, 1)")} * 256 + " +
        s"${hvSql(s"substr($m, 3, 1)")} * 16 + ${hvSql(s"substr($m, 4, 1)")}) % $bits)"
    }
    s"""WITH bld AS (SELECT ${posSql("o_custkey")} AS pos
       |  FROM orders, UNNEST(range(0, $k)) t(r) WHERE o_custkey IS NOT NULL),
       |sk AS (SELECT CAST(pos // 32 AS INTEGER) AS word,
       |  BIT_OR(CAST(1 AS BIGINT) << (pos % 32)) AS bits FROM bld GROUP BY 1),
       |pr AS (SELECT c_custkey AS key, ${posSql("c_custkey")} AS pos
       |  FROM customer, UNNEST(range(0, $k)) t(r) WHERE c_custkey < 200)
       |SELECT key, CAST(MIN(CASE WHEN COALESCE(sk.bits, 0) & (CAST(1 AS BIGINT) << (pos % 32))
       |    = (CAST(1 AS BIGINT) << (pos % 32)) THEN 1 ELSE 0 END) AS INTEGER) AS might_contain
       |FROM pr LEFT JOIN sk ON CAST(pr.pos // 32 AS INTEGER) = sk.word
       |GROUP BY key ORDER BY key""".stripMargin
  }

  /** q_cms_topk oracle: the per-key CMS min-over-rows estimate for every
    * distinct key, the integer-floor relative threshold, and the exact
    * verification join. */
  private def cmsTopkOracleSql(depth: Int, width: Int): String =
    s"""WITH k AS (SELECT CAST(user_id AS VARCHAR) AS kk
       |  FROM events WHERE user_id IS NOT NULL),
       |c AS (SELECT CAST(r AS INTEGER) AS hrow,
       |  (${hvSql("substr(md5(CAST(r AS VARCHAR) || ':' || kk), 1, 1)")} * 16
       |   + ${hvSql("substr(md5(CAST(r AS VARCHAR) || ':' || kk), 2, 1)")}) % $width AS hcol
       |  FROM k, UNNEST(range(0, $depth)) t(r)),
       |sk AS (SELECT hrow, hcol, COUNT(*) AS cnt FROM c GROUP BY 1, 2),
       |thr AS (SELECT 115 * COUNT(*) // (100 * COUNT(DISTINCT user_id)) AS thr
       |  FROM events WHERE user_id IS NOT NULL),
       |probes AS (SELECT DISTINCT user_id AS key, CAST(user_id AS VARCHAR) AS kk
       |  FROM events WHERE user_id IS NOT NULL),
       |pc AS (SELECT key, CAST(r AS INTEGER) AS hrow,
       |  (${hvSql("substr(md5(CAST(r AS VARCHAR) || ':' || kk), 1, 1)")} * 16
       |   + ${hvSql("substr(md5(CAST(r AS VARCHAR) || ':' || kk), 2, 1)")}) % $width AS hcol
       |  FROM probes, UNNEST(range(0, $depth)) t(r)),
       |est AS (SELECT key, MIN(COALESCE(sk.cnt, 0)) AS est
       |  FROM pc LEFT JOIN sk ON pc.hrow = sk.hrow AND pc.hcol = sk.hcol
       |  GROUP BY key),
       |exact AS (SELECT user_id AS key, COUNT(*) AS exact FROM events GROUP BY 1)
       |SELECT e.key, CAST(e.est AS BIGINT) AS est, CAST(x.exact AS BIGINT) AS exact
       |FROM est e JOIN exact x ON e.key = x.key, thr
       |WHERE e.est >= thr.thr AND x.exact >= thr.thr
       |ORDER BY e.key""".stripMargin

  private def cmsEstimateOracleSql(depth: Int, width: Int): String =
    s"""WITH k AS (SELECT CAST(l_partkey AS VARCHAR) AS kk
       |  FROM lineitem WHERE l_partkey IS NOT NULL),
       |c AS (SELECT CAST(r AS INTEGER) AS hrow,
       |  (${hvSql("substr(md5(CAST(r AS VARCHAR) || ':' || kk), 1, 1)")} * 16
       |   + ${hvSql("substr(md5(CAST(r AS VARCHAR) || ':' || kk), 2, 1)")}) % $width AS hcol
       |  FROM k, UNNEST(range(0, $depth)) t(r)),
       |s AS (SELECT hrow, hcol, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM c GROUP BY 1, 2),
       |p AS (SELECT p_partkey AS key FROM part WHERE p_partkey < 30),
       |pc AS (SELECT key, CAST(r AS INTEGER) AS hrow,
       |  (${hvSql("substr(md5(CAST(r AS VARCHAR) || ':' || CAST(key AS VARCHAR)), 1, 1)")} * 16
       |   + ${hvSql("substr(md5(CAST(r AS VARCHAR) || ':' || CAST(key AS VARCHAR)), 2, 1)")}) % $width AS hcol
       |  FROM p, UNNEST(range(0, $depth)) t(r))
       |SELECT key, CAST(MIN(COALESCE(s.cnt, 0)) AS BIGINT) AS est
       |FROM pc LEFT JOIN s USING (hrow, hcol)
       |GROUP BY key ORDER BY key""".stripMargin

  /** emb_random_projection oracle: one left-to-right list_sum fold per
    * output coordinate with the identical LCG sign — ±1 multiplies are
    * exact sign flips, so the doubles hash-match with no rounding.
    * Emitted per-coordinate (vec_id, i, x) to stay scalar-sortable for
    * the driver's pandas compare (raw list cells crash its sort). */
  private def randomProjectionOracleSql(dim: Int, outDim: Int): String = {
    val coords = (0 until outDim).map { j =>
      s"""  list_sum(list_transform(range(1, ${dim + 1}),
         |    i -> CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) *
         |      (CASE WHEN ((1103515245 * ((i - 1) * 1000003 + $j * 101) + 12345)
         |        % 2147483647) % 2 = 0 THEN 1 ELSE -1 END)))""".stripMargin
    }.mkString(",\n")
    s"""WITH p AS (SELECT vec_id, [
       |$coords
       |] AS proj
       |FROM embeddings)
       |SELECT vec_id, CAST(t.i AS INTEGER) AS i,
       |  proj[CAST(t.i + 1 AS INTEGER)] AS x
       |FROM p, UNNEST(range(0, $outDim)) t(i)
       |ORDER BY vec_id, i""".stripMargin
  }

  /** mm_resize oracle: replay the stub-raster nearest-neighbor sample —
    * payload bytes laid out gray row-major at width ceil(sqrt(n)),
    * integer floor mapping sx = x·srcW/outW — over the pure-ASCII corpus
    * (codepoints ARE the payload bytes). All-integer result contract. */
  private def mmResizeOracleSql(outW: Int, outH: Int): String =
    s"""WITH a AS (
       |  SELECT doc_id AS asset_id, text, length(text) AS n
       |  FROM documents WHERE doc_id % 3 = 0),
       |d AS (
       |  SELECT asset_id, text, n,
       |    greatest(1, CAST(ceil(sqrt(n)) AS BIGINT)) AS sw FROM a),
       |e AS (
       |  SELECT asset_id, text, n, sw,
       |    greatest(1, (n + sw - 1) // sw) AS sh FROM d),
       |p AS (
       |  SELECT asset_id, sw, sh,
       |    ((k // $outW) * sh // $outH) * sw + (k % $outW) * sw // $outW AS idx,
       |    text, n
       |  FROM e, UNNEST(range(0, ${outW * outH})) t(k)),
       |v AS (
       |  SELECT asset_id, sw, sh,
       |    CASE WHEN idx < n
       |      THEN unicode(substr(text, CAST(idx + 1 AS INTEGER), 1))
       |      ELSE 0 END AS pix
       |  FROM p)
       |SELECT asset_id, CAST(sw AS INTEGER) AS src_w, CAST(sh AS INTEGER) AS src_h,
       |  CAST($outW AS INTEGER) AS out_w, CAST($outH AS INTEGER) AS out_h,
       |  CAST(1 AS INTEGER) AS channels, CAST(SUM(pix) AS BIGINT) AS pix_sum
       |FROM v GROUP BY asset_id, sw, sh ORDER BY asset_id""".stripMargin

  /** mm_frames oracle: chunk the payload into frameBytes-byte frames,
    * keep every stride-th, digest. The payload is the UTF-8 encoding of a
    * pure-ASCII corpus, so byte slices coincide with character slices —
    * letting DuckDB replay the binary chunking with substr on the text.
    * Mirrors sampleFrames exactly, including the ≥1-frame floor for
    * sub-frame payloads. */
  private def mmFramesOracleSql(frameBytes: Int, stride: Int): String =
    s"""WITH a AS (
       |  SELECT doc_id AS asset_id, text,
       |    CAST(octet_length(encode(text)) // $frameBytes AS BIGINT) AS nframes
       |  FROM documents WHERE doc_id % 3 = 2),
       |f AS (
       |  SELECT asset_id, i, substr(text, CAST(1 + i * $frameBytes AS INTEGER), $frameBytes) AS frame
       |  FROM a, UNNEST(range(0, greatest(nframes - 1, 0) + 1)) t(i)
       |  WHERE i % $stride = 0)
       |SELECT asset_id, CAST(i // $stride AS INTEGER) AS frame_no, md5(frame) AS frame_digest
       |FROM f ORDER BY asset_id, frame_no""".stripMargin

  /** All declared queries. */
  val all: Map[String, (Q, Option[String])] =
    relational ++ cypherQueries ++ algorithms ++ pipeline ++ sampling

  def queries: Map[String, Q] = all.map { case (k, (q, _)) => k -> q }
  def oracleSql: Map[String, String] = all.collect { case (k, (_, Some(sql))) => k -> sql }
}
