package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{AnalyticsOps, AnnIndex, BillingOps, BloomOps, Dedup, GraphOps, MergeOps, Multimodal, PipelineOps, RelationalOps, Similarity, Sketches, SkewOps, TextOps, TopK}
import graft.streaming.StreamingOps

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the LLM-pipeline extensions), each with a DuckDB
  * oracle in `oracleSql` where SQL-expressible.
  *
  * Determinism discipline (so Spark and DuckDB hash-match bit-for-bit):
  *  - no ROUND anywhere (tie-rounding differs between engines);
  *  - double sums go through exact DECIMAL accumulation, cast back to
  *    double (`dsum`) — order-independent and exact;
  *  - per-row arithmetic restricted to IEEE +,-,*,/ and sqrt;
  *  - every query ends in a total ORDER BY on a unique key.
  */
object SparkEntry {
  import Par.{par2, par3}

  private val D = "2024-01-15" // fixed business date for billing-parity queries

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The synthetic event log has stored `ts` as parquet TIMESTAMP(NANOS)
    * (read as long via the legacy conf, rebuilt as µs — same truncation
    * DuckDB applies when it narrows ns → µs) or, in newer generations, as
    * Timestamp(isAdjustedToUTC=false, µs) which Spark 4 reads as
    * TIMESTAMP_NTZ. Downstream consumers (`unix_micros`, window gaps)
    * require TIMESTAMP, so normalize both encodings to TimestampType; the
    * session TZ is pinned UTC, making the NTZ→TZ cast value-preserving and
    * identical to DuckDB's reading of the same file. Mirrors the
    * reference's storage layer, which always hands back UTC instants
    * (src/services/bigquery.ts:132). */
  private[graft] def events(s: SparkSession, dir: String): DataFrame = {
    try s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    catch { case _: Throwable => () }
    val df = s.read.parquet(s"$dir/events.parquet")
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** Exact decimal-accumulated sum of a double column, returned as
    * double: deterministic under any aggregation order. */
  private def dsum(c: Column, scale: Int = 4): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  private def dsumExpr(c: Column, scale: Int = 6): Column =
    sum(c.cast(DecimalType(22, scale))).cast("double")

  /** Daily slice of the event log with the date predicate expressed on
    * the RAW nanosecond column, BEFORE the timestamp rebuild — so it
    * pushes down to parquet row-group stats as two long comparisons
    * (`to_date(timestamp_micros(ts))` would not). At 100 TB this is the
    * difference between pruning to one day and scanning the full log. */
  private[graft] def eventsOnDate(s: SparkSession, dir: String,
      date: String): DataFrame = {
    try s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    catch { case _: Throwable => () }
    val df = s.read.parquet(s"$dir/events.parquet")
    df.schema("ts").dataType match {
      case LongType =>
        val day = java.time.LocalDate.parse(date)
        val startNs = day.atStartOfDay(java.time.ZoneOffset.UTC)
          .toInstant.getEpochSecond * 1000000000L
        val endNs = startNs + 86400L * 1000000000L
        df.where(col("ts") >= startNs && col("ts") < endNs)
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case tsType @ (_: TimestampNTZType | TimestampType) =>
        // Half-open timestamp range on the stored column type: both
        // comparisons push to parquet row-group stats. `to_date(ts) = d`
        // would wrap the column in a cast and scan the full log at scale.
        val day = java.time.LocalDate.parse(date)
        val start = java.time.LocalDateTime.of(day, java.time.LocalTime.MIDNIGHT)
        val end = start.plusDays(1)
        val fmt = java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss")
        val (lo, hi) = (lit(start.format(fmt)).cast(tsType),
          lit(end.format(fmt)).cast(tsType))
        df.where(col("ts") >= lo && col("ts") < hi)
          .withColumn("ts", col("ts").cast(TimestampType))
      case _ => df.where(to_date(col("ts")) === lit(date))
    }
  }

  // ---- shared billing-parity plan fragments ---------------------------

  /** A1 over the synthetic event log: page views per user for date D. */
  private def dailyViews(s: SparkSession, dir: String): DataFrame =
    eventsOnDate(s, dir, D)
      .where(col("event_type") === "view" && col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("event_count"))

  /** J1+X6: customers (sessions stand-in) ⟕ daily views, charge calc. */
  private def billingJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_custkey").as("shop_key"))
      .join(broadcast(dailyViews(s, dir)),
        col("shop_key") === col("user_id"), "left_outer")
      .select(col("shop_key"),
        coalesce(col("event_count"), lit(0L)).as("page_views"))
      .withColumn("billing_amount",
        col("page_views").cast("double") / lit(1000000) * lit(10))
      .withColumn("rate_per_million", lit(10).cast("double"))

  private val pvCte =
    """SELECT user_id, count(*) AS event_count FROM events
      | WHERE event_type = 'view' AND CAST(ts AS DATE) = DATE '2024-01-15'
      |   AND user_id IS NOT NULL GROUP BY user_id""".stripMargin
  private val billCte =
    s"""SELECT c_custkey AS shop_key,
       | COALESCE(event_count, 0) AS page_views,
       | CAST(COALESCE(event_count, 0) AS DOUBLE) / 1000000 * 10 AS billing_amount,
       | CAST(10 AS DOUBLE) AS rate_per_million
       | FROM customer LEFT JOIN ($pvCte) pv ON c_custkey = user_id""".stripMargin

  // =====================================================================

  /** Flagship: the reference's dry-run pipeline (§3.2) end-to-end on
    * sf0.001 — scan → filter → agg → broadcast join → charge calc. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val rawSessions = t(spark, dir, "customer").select(
      concat(lit("shop-"), col("c_custkey")).as("shop"),
      col("c_name").as("accessToken"),
      lit("2024-01-01 00:00:00").cast("timestamp").as("createdAt"),
      lit("2024-01-01 00:00:00").cast("timestamp").as("updatedAt"))
    val rawEvents = events(spark, dir).select(
      concat(lit("shop-"), col("user_id"), lit(".myshopify.com")).as("shop"),
      when(col("event_type") === "view", "page_viewed")
        .otherwise(col("event_type")).as("name"),
      col("ts").as("created_at"))
    val sessions = BillingOps.activeSessions(rawSessions)
    val pageViews = BillingOps.pageViewsForDate(rawEvents, D)
    BillingOps.billingRecords(sessions, pageViews, D)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.1/§2.2 scans, projections, filters ----
    "s1_sessions_scan" -> ((s, dir) =>
      t(s, dir, "customer")
        .select(concat(lit("shop-"), col("c_custkey")).as("shop"),
          col("c_name").as("access_token"),
          col("c_mktsegment").as("segment"))
        .where(col("access_token").isNotNull && col("access_token") =!= "" &&
          col("shop").isNotNull && col("shop") =!= "")
        .withColumn("session_id", col("shop"))
        .orderBy("shop")),

    "p2_x9_shop_normalization" -> ((s, dir) => {
      val raw = t(s, dir, "customer").select(col("c_custkey"),
        when(col("c_custkey") % 2 === 0,
          concat(lit("shop-"), col("c_custkey"), lit(".myshopify.com")))
          .otherwise(concat(lit("shop-"), col("c_custkey"))).as("shop_raw"))
      raw.select(col("c_custkey"), col("shop_raw"),
          BillingOps.normalizeShop(col("shop_raw")).as("shop_norm"),
          BillingOps.ensureShopSuffix(col("shop_raw")).as("shop_full"))
        .orderBy("c_custkey")
    }),

    "f2_daily_event_filter" -> ((s, dir) =>
      eventsOnDate(s, dir, D)
        .where(col("event_type") === "view" && col("user_id").isNotNull)
        .select(col("event_id"), col("user_id"), col("ts"))
        .orderBy("event_id")),

    // ---- §2.4 aggregations ----
    "a1_daily_user_counts" -> ((s, dir) =>
      dailyViews(s, dir).orderBy("user_id")),

    "a2_totals" -> ((s, dir) =>
      billingJoin(s, dir).agg(
          count(lit(1)).as("record_count"),
          sum(col("page_views")).as("total_page_views"))
        .withColumn("total_billing_amount",
          col("total_page_views").cast("double") / lit(1000000) * lit(10))),

    "a4_status_histogram" -> ((s, dir) =>
      billingJoin(s, dir).agg(
        count(when(col("billing_amount") > 0, 1)).as("n_pending"),
        count(when(col("billing_amount") <= 0, 1)).as("n_skipped"))),

    "a5_latest_event_state" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"), to_date(col("ts")))
        .orderBy(col("ts").desc, col("event_id").desc)
      events(s, dir)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("user_id"), to_date(col("ts")).as("event_date"),
          col("event_id"), col("event_type"), col("value"))
        .orderBy("user_id", "event_date")
    }),

    // ---- §2.3 joins ----
    "j1_billing_join" -> ((s, dir) => billingJoin(s, dir).orderBy("shop_key")),

    "x6_charge_decimal" -> ((s, dir) =>
      // the DECIMAL(12,2) money twin (SURVEY §1.2 may-offer) on the
      // same billing relation — rate 12.34 exercises real half-up
      // rounding (amounts carry 8 exact decimals before the cast);
      // the oracle cross-checks against DuckDB's decimal engine, so
      // the no-double-rounding claim is verified, not asserted
      t(s, dir, "customer").select(col("c_custkey").as("shop_key"))
        .join(broadcast(dailyViews(s, dir)),
          col("shop_key") === col("user_id"), "left_outer")
        .select(col("shop_key"),
          coalesce(col("event_count"), lit(0L)).as("page_views"))
        .withColumn("amount_dec",
          // the decimal math (exact product + one HALF_UP cast) happens
          // in DECIMAL; the final cast to double is representation-only
          // (a 12.2 decimal converts exactly the same way in DuckDB), so
          // the hash compares engine-independent values, not the two
          // readers' decimal-vs-float rendering
          graft.operators.BillingOps.chargeAmountDecimal(
            col("page_views"), 12.34).cast("double"))
        .orderBy("shop_key")),

    "j3_enrich_outcomes" -> ((s, dir) => {
      val bill = billingJoin(s, dir)
      val outcomes = bill.where(col("billing_amount") > 0)
        .select(col("shop_key").as("o_key"),
          when(col("shop_key") % 10 === 3, "failed").otherwise("success")
            .as("o_status"),
          when(col("shop_key") % 10 === 3, lit(null).cast("string"))
            .otherwise(concat(lit("ch-"), col("shop_key"))).as("charge_id"),
          when(col("shop_key") % 10 === 3, "Rate limit exceeded")
            .otherwise(lit(null).cast("string")).as("error"))
      bill.join(broadcast(outcomes), col("shop_key") === col("o_key"),
          "left_outer")
        .select(col("shop_key"), col("page_views"),
          coalesce(col("o_status"),
            when(col("billing_amount") <= 0, "skipped").otherwise("pending"))
            .as("status"),
          col("charge_id"), col("error"))
        .orderBy("shop_key")
    }),

    "join_semi_active_shops" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(broadcast(dailyViews(s, dir)),
          col("c_custkey") === col("user_id"), "left_semi")
        .select(col("c_custkey")).orderBy("c_custkey")),

    "join_anti_inactive_shops" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(broadcast(dailyViews(s, dir)),
          col("c_custkey") === col("user_id"), "left_anti")
        .select(col("c_custkey")).orderBy("c_custkey")),

    // ---- §2.7 set ops / §2.2 F5 split ----
    "f5_split_routing" -> ((s, dir) => {
      val bill = billingJoin(s, dir)
      val charged = bill.where(col("billing_amount") > 0)
        .withColumn("status", lit("pending"))
      val skipped = bill.where(col("billing_amount") <= 0)
        .withColumn("status", lit("skipped"))
      charged.unionAll(skipped)
        .select(col("shop_key"), col("page_views"), col("status"))
        .orderBy("shop_key")
    }),

    "setop_nation_coverage" -> ((s, dir) => {
      val custNations = t(s, dir, "customer")
        .select(col("c_nationkey").as("nationkey")).distinct()
      val suppNations = t(s, dir, "supplier")
        .select(col("s_nationkey").as("nationkey")).distinct()
      val both = custNations.intersect(suppNations)
        .withColumn("tag", lit("both"))
      val custOnly = custNations.except(suppNations)
        .withColumn("tag", lit("cust_only"))
      both.unionAll(custOnly).select(col("tag"), col("nationkey"))
        .orderBy("tag", "nationkey")
    }),

    // ---- §2.6 sorts / limits / top-k ----
    "l2_top_shops" -> ((s, dir) =>
      billingJoin(s, dir).where(col("page_views") > 0)
        .orderBy(col("billing_amount").desc, col("shop_key").asc)
        .select(col("shop_key"), col("page_views"), col("billing_amount"))
        .limit(10)),

    "l3_recent_events" -> ((s, dir) =>
      events(s, dir)
        .orderBy(col("ts").desc, col("event_id").desc)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
        .limit(10)),

    "l1_sample_head" -> ((s, dir) =>
      // L1: the reference prints an insertion-ordered slice(0, 5); the
      // engine pins a deterministic order first (survey note)
      t(s, dir, "customer")
        .select(concat(lit("shop-"), col("c_custkey")).as("shop"),
          col("c_mktsegment").as("segment"))
        .orderBy("shop").limit(5)),

    "x_cast_suite" -> ((s, dir) =>
      t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderkey").cast("string").as("key_str"),
          col("o_orderkey").cast("string").cast("long").as("key_roundtrip"),
          to_date(col("o_orderdate")).cast("string").as("date_iso"),
          col("o_orderdate").cast("date").as("date_typed"),
          (col("o_totalprice") > 100000.0).cast("int").as("big_flag"))
        .orderBy("o_orderkey")),

    // ---- §2.8 scalar functions ----
    "x5_jst_business_date" -> ((s, dir) =>
      events(s, dir)
        .groupBy(to_date(col("ts") + expr("INTERVAL 9 HOURS"))
          .as("jst_date"))
        .agg(count(lit(1)).as("n"))
        .orderBy("jst_date")),

    "x13_json_props" -> ((s, dir) =>
      events(s, dir)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id")),

    "x_scalar_suite" -> ((s, dir) =>
      t(s, dir, "part").select(
          col("p_partkey"),
          upper(col("p_name")).as("name_upper"),
          length(col("p_name")).cast("long").as("name_len"),
          substring(col("p_brand"), 1, 6).as("brand_prefix"),
          (col("p_size") * 2).as("size_x2"),
          abs(col("p_retailprice") - lit(1000).cast("double")).as("price_delta"),
          when(col("p_size") >= 25, "large").when(col("p_size") >= 10, "medium")
            .otherwise("small").as("size_class"))
        .orderBy("p_partkey")),

    // ---- TPC-H-style relational core (bench headliners) ----
    "q1_pricing_summary" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsumExpr(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("sum_disc_price"),
          dsumExpr(col("l_extendedprice") * (lit(1) - col("l_discount")) *
            (lit(1) + col("l_tax"))).as("sum_charge"),
          (sum(col("l_quantity").cast(DecimalType(18, 4))).cast("double") /
            count(lit(1))).as("avg_qty"),
          (sum(col("l_extendedprice").cast(DecimalType(18, 4))).cast("double") /
            count(lit(1))).as("avg_price"),
          (sum(col("l_discount").cast(DecimalType(18, 4))).cast("double") /
            count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    "q3_shipping_priority" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
        .where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val ord = t(s, dir, "orders")
        .where(col("o_orderdate") < lit("1996-03-15 00:00:00").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_orderpriority"))
      val li = t(s, dir, "lineitem")
        .where(col("l_shipdate") > lit("1996-03-15 00:00:00").cast("timestamp"))
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(dsumExpr(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .select(col("l_orderkey"), col("revenue"), col("o_orderdate"),
          col("o_orderpriority"))
        .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)
    }),

    "q5_local_supplier_volume" -> ((s, dir) => {
      val asia = t(s, dir, "region").where(col("r_name") === "ASIA")
      val nat = t(s, dir, "nation")
        .join(broadcast(asia), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val supp = t(s, dir, "supplier")
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
      val ord = t(s, dir, "orders")
        .where(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"),
          col("l_discount"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(cust, col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(dsumExpr(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    "agg_nation_balance" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          dsum(col("c_acctbal"), 2).as("total_balance"))
        .orderBy("r_name", "n_name")),

    "cube_lineitem_counts" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // ---- §2.5 windows ----
    "window_order_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"))
        .orderBy("o_custkey", "rn")
    }),

    "window_running_total" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
            .cast("double").as("running_spend"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // ---- streaming twin (batch-equivalent tumbling window) ----
    "stream_tumbling_counts" -> ((s, dir) =>
      StreamingOps.tumblingCounts(events(s, dir), "1 hour")
        .orderBy("window_start", "event_type")),

    "stream_log_feed" -> ((s, dir) => {
      // the NATIVE change-feed source end to end: an events slice
      // ingested into a LogStore across three commits (plus a
      // compaction the feed must classify as nothing), then
      // spark.readStream.format("graft-log") → daily aggregation →
      // run to completion. Offsets are commit versions; the oracle is
      // the plain batch aggregate of the same slice — the stream and
      // the table must agree exactly.
      val ev = events(s, dir).where(col("event_id") <= 20000)
        .select(col("event_id"), col("event_type"), col("value"),
          col("ts"))
      val root = java.nio.file.Files
        .createTempDirectory("graft-slf").toString + "/tbl"
      val store = new graft.catalog.LogStore(s, root)
      store.append(ev.where(pmod(col("event_id"), lit(3)) === 0))
      store.append(ev.where(pmod(col("event_id"), lit(3)) === 1))
      store.compact()
      store.append(ev.where(pmod(col("event_id"), lit(3)) === 2))
      val agg = s.readStream.format("graft-log")
        .option("path", root).load()
        .groupBy(to_date(col("ts")).as("d"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      // state partitions sized to the day×type key set, not the
      // shuffle default — see withStatePartitions
      val q = StreamingOps.withStatePartitions(s, 8) {
        agg.writeStream.outputMode("complete").format("memory")
          .queryName("stream_log_feed_mem").start()
      }
      try q.processAllAvailable() finally q.stop()
      s.table("stream_log_feed_mem")
        .select(col("d").cast("string").as("d"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy("d", "event_type")
    }),

    // ---- LLM-pipeline: dedup ----
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents")).orderBy("text_hash")),

    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), w = 3, threshold = 0.5)
        .orderBy("id_a", "id_b")),

    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshPairs(t(s, dir, "documents"), k = 8, bands = 4,
        w = 3, threshold = 0.5).orderBy("id_a", "id_b")),

    // Same exact output as dedup_ngram_jaccard, different (scalable)
    // candidate algorithm: prefix filtering — the oracle is the
    // brute-force inverted index, which the prefix-filter lemma
    // guarantees the operator reproduces pair-for-pair.
    "dedup_prefix_jaccard" -> ((s, dir) =>
      Dedup.prefixJaccardPairs(t(s, dir, "documents"), w = 3,
          threshold = 0.5)
        .orderBy("id_a", "id_b")),

    "dedup_clusters" -> ((s, dir) =>
      Dedup.connectedComponents(
          Dedup.ngramJaccardPairs(t(s, dir, "documents"), w = 3,
            threshold = 0.5))
        .orderBy("doc_id")),

    "dedup_keep_list" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.keepList(docs,
          Dedup.ngramJaccardPairs(docs, w = 3, threshold = 0.5))
        .orderBy("doc_id")
    }),

    // ---- flagship composite: corpus → training set, ONE plan ----
    "pipe_training_set" -> ((s, dir) => {
      // near-dup keep list → quality gate → sharded sequence packing:
      // the full training-set assembly as a single lazy plan (three
      // windows, one broadcast anti-join, no driver materialization
      // between stages)
      val docs = t(s, dir, "documents")
      val kept = docs.join(
        Dedup.keepList(docs,
          Dedup.ngramJaccardPairs(docs, w = 3, threshold = 0.5)),
        Seq("doc_id"), "left_semi")
      val gated = kept
        // same Generate barrier as pipe_prepare_corpus: keep the
        // quality filter from re-inlining the tokenizer into the scan
        .withColumn("toks", explode(array(TextOps.tokens(col("text")))))
        .withColumn("quality",
          TextOps.qualityScoreFromTokens(col("text"), col("toks")))
        .where(col("quality") >= 0.5)
        .select(col("lang"), col("doc_id"), col("text"))
      PipelineOps.packSequences(gated, tokenBudget = 512, shardCol = "lang")
        .orderBy("lang", "doc_id")
    }),

    "dedup_simhash_signatures" -> ((s, dir) =>
      Dedup.simhashSignatures(t(s, dir, "documents")).orderBy("doc_id")),

    "dedup_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), maxHamming = 3)
        .withColumn("hamming", col("hamming").cast("int"))
        .orderBy("id_a", "id_b")),

    // ---- LLM-pipeline: similarity search ----
    "ann_bruteforce_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 8), k = 5)
        .orderBy("query_id", "rank")
    }),

    "dedup_embedding_cosine" -> ((s, dir) =>
      Similarity.cosineNearDupPairs(t(s, dir, "embeddings"),
          threshold = 0.42, idModulus = 2)
        .orderBy("id_a", "id_b")),

    "dedup_embedding_lsh" -> ((s, dir) =>
      // the scale path of dedup_embedding_cosine: banded sign-LSH
      // candidates (ids only on the shuffle), exact cosine verify
      Similarity.lshNearDupPairs(t(s, dir, "embeddings"),
          threshold = 0.42, bands = 8, rowsPerBand = 6, dims = 64)
        .orderBy("id_a", "id_b")),

    "emb_centroids" -> ((s, dir) => {
      // per-language mean embedding: docs and embeddings share ids
      val lang = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val joined = t(s, dir, "embeddings")
        .join(lang, col("vec_id") === col("doc_id"))
      Similarity.groupCentroids(joined, "lang")
        .orderBy("g", "pos")
    }),

    "emb_kmeans" -> ((s, dir) =>
      // trained coarse quantizer: 2 Lloyd iterations from the
      // deterministic first-8 init; output = final assignment + its
      // squared L2 distance (bit-reproduced by the unrolled oracle)
      Similarity.kMeans(t(s, dir, "embeddings"), k = 8, iters = 2)
        .orderBy("vec_id")),

    "dedup_semantic" -> ((s, dir) =>
      // SemDeDup blocking: coarse-quantizer cells bound the pairwise
      // cosine to within-cell, keep-lowest-id-representative rule
      Similarity.semanticDedup(t(s, dir, "embeddings"),
          threshold = 0.42, nCells = 16)
        .orderBy("vec_id")),

    "ann_lsh_topk" -> ((s, dir) => {
      // 4 tables × 6 planes: the multi-table recall lever (audited at
      // recall@5 = 0.60 on this fixture vs 0.225 single-table)
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.where(col("vec_id") < 8), k = 5,
          planes = 6, dims = 64, tables = 4)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy("query_id", "rank")
    }),

    "ann_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.where(col("vec_id") < 8), k = 5,
          nCells = 16, nProbe = 4)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy("query_id", "rank")
    }),

    "ann_ivf_trained" -> ((s, dir) => {
      // IVF over the k-means-trained coarse quantizer (the Faiss
      // design) instead of ivfTopK's first-16 codebook — probing and
      // inverted lists use the training metric (squared L2)
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopKTrained(emb, emb.where(col("vec_id") < 8),
          k = 5, nCells = 16, nProbe = 4, iters = 2)
        .orderBy("query_id", "rank")
    }),

    "ann_sq_topk" -> ((s, dir) => {
      // scalar quantization (SQ8): one byte per dimension over the
      // corpus-wide per-dim [min,max]; asymmetric search against the
      // decoded reconstruction — finest-grain compression point on the
      // PQ/SQ/raw memory-recall frontier
      val emb = t(s, dir, "embeddings")
      Similarity.sqTopK(emb, emb.where(col("vec_id") < 8), k = 5,
          levels = 256)
        .orderBy("query_id", "rank")
    }),

    "emb_norms" -> ((s, dir) =>
      t(s, dir, "embeddings").select(col("vec_id"),
          graft.functions.VectorFunctions.vec_norm(col("embedding"))
            .as("nrm"))
        .orderBy("vec_id")),

    "agg_approx_distinct_users" -> ((s, dir) =>
      // HLL++ approximate distinct, verified against the exact distinct
      // computed in the SAME plan: the output carries the exact value
      // (hash-matchable in DuckDB) plus an error-bound flag, so a
      // drifting sketch fails the oracle hash loudly instead of being
      // skipped as "no oracle"
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("ap"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("ap") - col("exact_users")).cast("double") <=
            col("exact_users").cast("double") * 0.05).as("hll_ok"))
        .orderBy("event_type")),

    "agg_hll_mergeable" -> ((s, dir) => {
      // the MERGEABLE-sketch pattern a 100 TB pipeline actually uses:
      // per-(type, day) partial HLL sketches, unioned per type, then
      // estimated — incremental distinct counting without re-scanning
      // history. Register state is order-independent, so the estimate
      // is deterministic; verified against the exact distinct with the
      // same bound-flag scheme as agg_approx_distinct_users.
      val ev = events(s, dir)
      val daily = ev.groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val merged = daily.groupBy(col("event_type"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx"))
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      merged.join(exact, "event_type")
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx") - col("exact_users")).cast("double") <=
            col("exact_users").cast("double") * 0.05).as("merge_ok"))
        .orderBy("event_type")
    }),

    // ---- LLM-pipeline: text analysis ----
    "text_token_stats" -> ((s, dir) =>
      t(s, dir, "documents").select(
          col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
          TextOps.bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens"),
          TextOps.charCount(col("text")).cast("long").as("n_chars_m"),
          TextOps.punctCount(col("text")).cast("long").as("n_punct"))
        .orderBy("doc_id")),

    "text_quality" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("toks", TextOps.tokens(col("text")))
        .select(col("doc_id"),
          TextOps.qualityScoreFromTokens(col("text"), col("toks"))
            .as("quality"))
        .orderBy("doc_id")),

    "text_langid" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("toks", TextOps.tokens(col("text")))
        .select(col("doc_id"),
          TextOps.langIdFromTokens(col("toks")).as("lang_pred"), col("lang"))
        .orderBy("doc_id")),

    "text_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
          TextOps.contentFingerprint(col("text")).as("fingerprint"),
          TextOps.rollingHash(regexp_replace(lower(col("text")),
            "[^a-z0-9 ]", "")).as("rolling_hash"))
        .orderBy("doc_id")),

    "mm_payload_dedup" -> ((s, dir) => {
      // exact BINARY dedup over opaque media payloads — the multimodal
      // twin of dedup_exact: hash-groupBy on the digest, payloads never
      // shuffle (only the 16-byte md5 and two longs do). The corpus has
      // no byte-identical docs, so a re-upload batch (every 7th doc
      // under a fresh media_id) models the duplicate class this
      // operator exists to catch; keeper = lowest id (the original).
      val docs = t(s, dir, "documents")
      val base = Multimodal.withBinaryPayload(docs)
      val reupload = Multimodal.withBinaryPayload(
        docs.where(col("doc_id") % 7 === 0)
          .withColumn("doc_id", col("doc_id") + lit(100000L)))
      base.union(reupload)
        .groupBy(md5(col("payload")).as("payload_md5"))
        .agg(count(lit(1)).as("n_copies"),
          min(col("media_id")).as("keeper_id"),
          min(length(col("payload"))).as("byte_len"))
        .where(col("n_copies") >= 2)
        .orderBy("payload_md5")
    }),

    "text_code_detect" -> ((s, dir) => {
      // code-vs-prose routing (training mixes weigh code separately):
      // symbol density + indented-line starts + code-keyword hits via
      // the native CountInSet — all per-row regex/set counts, no
      // shuffle before the scan ends
      val kw = Seq("def", "class", "return", "import", "if", "else",
        "for", "while", "function", "var")
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
          length(col("text")).as("n_chars"),
          size(regexp_extract_all(col("text"),
            lit("[{}()=;<>]"), lit(0))).as("symbol_hits"),
          size(regexp_extract_all(col("text"),
            lit("\n(  |\t)"), lit(0))).as("indent_hits"),
          graft.functions.StringSetFunctions
            .count_in_set(TextOps.tokens(col("text")), kw).as("kw_hits"))
        .withColumn("symbol_ratio",
          col("symbol_hits").cast("double") /
            greatest(col("n_chars"), lit(1)).cast("double"))
        .withColumn("is_code",
          col("symbol_ratio") > 0.04 && col("kw_hits") >= 1)
        .orderBy("doc_id")
    }),

    "text_keywords" -> ((s, dir) =>
      // RAKE: stopword-delimited phrase runs, deg/freq word scores,
      // top-3 phrases per document
      TextOps.rakeKeywords(t(s, dir, "documents"),
          TextOps.EnglishStopwords, k = 3)
        .orderBy("doc_id", "rank")),

    "text_naive_bayes" -> ((s, dir) =>
      // per-language discriminative vocabulary: top-5 tokens by
      // Laplace-smoothed one-vs-rest likelihood ratio (min count 5)
      TextOps.naiveBayesTokens(t(s, dir, "documents"),
          classCol = "lang", k = 5, minCount = 5)
        .orderBy("cls", "rank")),

    "text_winnowing" -> ((s, dir) =>
      // MOSS winnowing (k=4 word-grams, window 4): any shared run of
      // ≥ 7 words between two docs is guaranteed a common fingerprint
      TextOps.winnowingFingerprints(t(s, dir, "documents"), k = 4, w = 4)
        .orderBy("doc_id")),

    // ---- LLM-pipeline: multimodal plumbing ----
    "mm_payload_metadata" -> ((s, dir) =>
      Multimodal.payloadMetadata(
          Multimodal.withBinaryPayload(t(s, dir, "documents")))
        .withColumn("byte_len", col("byte_len").cast("long"))
        .orderBy("media_id")),

    "mm_frame_sample" -> ((s, dir) =>
      Multimodal.sampleFrames(
          Multimodal.withBinaryPayload(t(s, dir, "documents")), step = 10)
        .orderBy("media_id", "frame_idx")),

    "mm_decoded_features" -> ((s, dir) => {
      // REAL decode: payloads are valid binary PGM images synthesized
      // from the corpus, and extractFeatures genuinely parses them
      // (header, dims, maxval, raster stats). The oracle rebuilds the
      // identical ASCII-header + ASCII-raster payload as a string and
      // recomputes the same features relationally.
      Multimodal.extractFeatures(s,
          Multimodal.withPgmPayload(t(s, dir, "documents")))
        .toDF().orderBy("media_id")
    }),

    "mm_decoded_jpeg" -> ((s, dir) => {
      // LOSSY real-corpus decode: payloads are genuine baseline JPEGs
      // (DCT + quantization + Huffman + byte stuffing) on the shared
      // raster geometry. Exact oracle facts: the header dims and
      // channel count, plus mean_close — the decoded mean within the
      // DC-quantization error bound (±2) of the relationally-computed
      // source mean (the mean of a full block depends on DC alone, so
      // quantized AC noise cannot move it). Pixel-level fidelity
      // bounds are JpegCodecSpec's.
      val docs = t(s, dir, "documents")
      val src = docs
        .withColumn("btxt", expr("coalesce(text, '')"))
        .withColumn("n", expr("octet_length(btxt)"))
        .withColumn("w", expr("8 + n % 57"))
        .withColumn("h", expr("greatest(CAST(1 AS BIGINT), " +
          "CAST((n + w - 1) DIV w AS BIGINT))"))
        .withColumn("sumv", expr("aggregate(split(btxt, ''), " +
          "CAST(0 AS BIGINT), (a, x) -> a + ascii(x))"))
        .select(col("doc_id").as("media_id"),
          ((col("sumv") + lit(32L) * (col("w") * col("h") - col("n")))
            .cast("double") /
            (col("w") * col("h")).cast("double")).as("source_mean"))
      Multimodal.extractJpegFeatures(s,
          Multimodal.withJpegPayload(docs).join(src, "media_id"))
        .toDF()
        .select(col("media_id"), col("width"), col("height"),
          col("channels"), col("mean_close"))
        .orderBy("media_id")
    }),

    "mm_decoded_jpeg_prog" -> ((s, dir) => {
      // PROGRESSIVE JPEG (SOF2, spectral selection + successive
      // approximation — the dominant non-baseline wild profile) at
      // corpus scale: every document encoded BOTH ways (rotating
      // gray / RGB 4:4:4 / RGB 4:2:0 by doc id) and both streams
      // decoded through the general decoder. Progressive is a pure
      // reordering of the same quantized coefficients, so the decoded
      // rasters must agree BYTE FOR BYTE — pinned per document as the
      // bit_identical literal, alongside the exact geometry facts.
      Multimodal.extractJpegProgFeatures(s, t(s, dir, "documents"))
        .toDF()
        .select(col("media_id"), col("width"), col("height"),
          col("channels"), col("bit_identical"))
        .orderBy("media_id")
    }),

    "mm_decoded_jpeg420" -> ((s, dir) => {
      // the dominant wild-corpus JPEG profile: REAL 4:2:0 payloads
      // (2x2-sampled luma, box-averaged chroma, MCU-interleaved
      // scan) on a full-MCU RGB geometry, decoded through the
      // general MCU path. Exact oracle facts: header dims + channel
      // count, plus per-channel mean agreement (block means ride on
      // DC alone; full MCUs make the chroma box average
      // mean-preserving) — the source channel means are computed
      // relationally here, so a decode drift breaks the booleans.
      val docs = t(s, dir, "documents")
      val src = docs
        .withColumn("btxt", expr("coalesce(text, '')"))
        .withColumn("n", expr("octet_length(btxt)"))
        .withColumn("w", expr("16 * (1 + n % 3)"))
        .withColumn("nrows", expr(
          "greatest(CAST(1 AS BIGINT), CAST((n + 3*w - 1) DIV (3*w) AS BIGINT))"))
        .withColumn("h", expr("16 * ((nrows + 15) DIV 16)"))
        .withColumn("npx", col("w") * col("h"))
        .withColumn("sr", expr("aggregate(transform(split(btxt, ''), " +
          "(x, i) -> IF(i % 3 = 0, CAST(ascii(x) AS BIGINT), " +
          "CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (a, x) -> a + x)"))
        .withColumn("sg", expr("aggregate(transform(split(btxt, ''), " +
          "(x, i) -> IF(i % 3 = 1, CAST(ascii(x) AS BIGINT), " +
          "CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (a, x) -> a + x)"))
        .withColumn("sb", expr("aggregate(transform(split(btxt, ''), " +
          "(x, i) -> IF(i % 3 = 2, CAST(ascii(x) AS BIGINT), " +
          "CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (a, x) -> a + x)"))
        .select(col("doc_id").as("media_id"),
          ((col("sr") + lit(32L) * (col("npx") - expr("CAST((n + 2) DIV 3 AS BIGINT)")))
            .cast("double") / col("npx").cast("double")).as("r_mean"),
          ((col("sg") + lit(32L) * (col("npx") - expr("CAST((n + 1) DIV 3 AS BIGINT)")))
            .cast("double") / col("npx").cast("double")).as("g_mean"),
          ((col("sb") + lit(32L) * (col("npx") - expr("CAST(n DIV 3 AS BIGINT)")))
            .cast("double") / col("npx").cast("double")).as("b_mean"))
      Multimodal.extractJpeg420Features(s,
          Multimodal.withJpeg420Payload(docs).join(src, "media_id"))
        .toDF().orderBy("media_id")
    }),

    "mm_resize_pixels" -> ((s, dir) =>
      // the PIXEL half of resize: decode → aspect-preserving
      // nearest-neighbor decimation capped at 16 → stats + md5 of the
      // RESIZED raster. Pure integer source indexing, so the oracle
      // recomputes the exact resized bytes positionally from the
      // reconstructed raster string — the output pixels themselves
      // are hash-checked, not just the plumbing.
      Multimodal.resizeFeatures(s,
          Multimodal.withPgmPayload(t(s, dir, "documents")),
          maxDim = 16)
        .toDF().orderBy("media_id")),

    "mm_resize_area" -> ((s, dir) =>
      // the ANTI-ALIASED resize kernel: decode → the same
      // aspect-preserving dims → area-average decimation (box pixel
      // sums over the floor partition, integer divide) → stats + md5
      // of the RESIZED raster. All-integer box arithmetic, so the
      // oracle recomputes the exact resized bytes positionally —
      // kernel output hash-checked, not just plumbing.
      Multimodal.resizeFeatures(s,
          Multimodal.withPgmPayload(t(s, dir, "documents")),
          maxDim = 16, kernel = "area")
        .toDF().orderBy("media_id")),

    "mm_decoded_png" -> ((s, dir) => {
      // REAL compressed-image decode: payloads are genuine PNGs
      // (zlib/DEFLATE IDAT, per-row filters, chunk CRCs) synthesized
      // from the corpus on the PGM raster geometry, and
      // extractPngFeatures genuinely inflates + unfilters them. The
      // oracle recomputes decoded-raster facts (dims, mean, pixel
      // md5) relationally — the wire bytes are compression, not
      // arithmetic, so they stay Spark-side (byte_len dropped here;
      // PngCodecSpec pins the container format itself).
      Multimodal.extractPngFeatures(s,
          Multimodal.withPngPayload(t(s, dir, "documents")))
        .toDF()
        .select(col("media_id"), col("width"), col("height"),
          col("channels"), col("mean_level"), col("raster_md5"))
        .orderBy("media_id")
    }),

    "mm_decoded_rgb" -> ((s, dir) =>
      // P6 (RGB) decode through the same codec seam: per-channel means
      // from the interleaved raster; malformed payloads degrade to
      // null decode columns, never task failure (all synthesized
      // payloads here are valid, so the oracle sees full rows)
      Multimodal.extractRgbFeatures(s,
          Multimodal.withPpmPayload(t(s, dir, "documents")))
        .toDF().orderBy("media_id")),

    // ---- pipeline ops: sessionization, vocab, sampling, histograms ----
    "pipe_sessionize" -> ((s, dir) =>
      PipelineOps.sessionize(events(s, dir), gapMinutes = 30)
        .orderBy("user_id", "session_idx")),

    "stream_session_window" -> ((s, dir) =>
      // Spark's native session_window — the streaming-capable session
      // operator (same expression works under readStream + watermark);
      // note its boundary semantics: a gap of EXACTLY the duration
      // starts a new session (end = last_ts + gap, exclusive)
      events(s, dir)
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"))
        .orderBy("user_id", "session_start")),

    "pipe_vocabulary" -> ((s, dir) =>
      PipelineOps.vocabulary(t(s, dir, "documents"), topN = 100)),

    // ---- Neyman-allocation stratified sample (seats ∝ N_h·σ_h) ----
    "pipe_neyman_sample" -> ((s, dir) =>
      PipelineOps.neymanSample(
          t(s, dir, "documents").withColumn("len", length(col("text"))),
          "lang", "doc_id", "len", totalN = 100)
        .orderBy("lang", "doc_id")),

    // ---- Theil–Sen robust daily trend per event type ----
    "ts_theil_sen" -> ((s, dir) =>
      AnalyticsOps.theilSen(events(s, dir)).orderBy("event_type")),

    // ---- Mann–Kendall trend test (Theil–Sen's significance dual) ----
    "ts_mann_kendall" -> ((s, dir) =>
      AnalyticsOps.mannKendall(events(s, dir)).orderBy("event_type")),

    // ---- Hodges–Lehmann pseudo-median of the daily series ----
    "analytics_hodges_lehmann" -> ((s, dir) =>
      AnalyticsOps.hodgesLehmann(events(s, dir)).orderBy("event_type")),

    // ---- deterministic Poisson-bootstrap CI for the mean ----
    "analytics_bootstrap_ci" -> ((s, dir) =>
      AnalyticsOps.bootstrapMeanCi(events(s, dir)).orderBy("event_type")),

    // ---- Yule–Walker AR(2) fit + one-step forecast ----
    "ts_ar2_forecast" -> ((s, dir) =>
      AnalyticsOps.yuleWalkerAr2(events(s, dir)).orderBy("event_type")),

    // ---- leakage-free split: assignment hashes the near-dup cluster ----
    "pipe_split_leakage" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      PipelineOps.leakageSplit(docs,
          Dedup.connectedComponents(
            Dedup.ngramJaccardPairs(docs, w = 3, threshold = 0.5)))
        .orderBy("doc_id")
    }),

    // ---- ε-DP count release (discrete geometric mechanism) ----
    "privacy_dp_counts" -> ((s, dir) =>
      AnalyticsOps.dpNoisyCounts(t(s, dir, "documents"), "lang")
        .orderBy("lang")),

    // ---- ε-DP mean release (clipped sum + per-term geometric) ----
    "privacy_dp_mean" -> ((s, dir) =>
      AnalyticsOps.dpNoisyMean(events(s, dir), "event_type", "value",
          clip = 100.0)
        .orderBy("event_type")),

    // ---- ε-budget ledger: basic composition across the releases ----
    // The two DP releases above, as ledger rows (ε = ln 2 per
    // geometric draw; the ratio release spends two draws) with the
    // group count each release actually exposed, run through the
    // cumulative-spend accounting view at budget 1.5: the counts
    // release fits, the mean release tips the same salt over budget.
    "privacy_budget" -> ((s, dir) => {
      val counts = AnalyticsOps
        .dpNoisyCounts(t(s, dir, "documents"), "lang")
        .agg(count(lit(1)).as("n_groups"))
        .select(lit("counts:lang").as("release"),
          lit("geometric").as("mechanism"),
          lit(0.6931471805599453).as("epsilon"),
          lit("dp").as("salt"), col("n_groups"))
      val mean = AnalyticsOps
        .dpNoisyMean(events(s, dir), "event_type", "value", clip = 100.0)
        .agg(count(lit(1)).as("n_groups"))
        .select(lit("mean:event_type:value").as("release"),
          lit("geometric_ratio").as("mechanism"),
          lit(1.3862943611198906).as("epsilon"),
          lit("dp").as("salt"), col("n_groups"))
      AnalyticsOps.privacyBudget(counts.unionByName(mean), budget = 1.5)
        .orderBy("release")
    }),

    // ---- WAV (RIFF PCM16) amplitude features through the codec seam ----
    "mm_wav_stats" -> ((s, dir) =>
      Multimodal.extractWavFeatures(s,
          Multimodal.withWavPayload(t(s, dir, "documents")))
        .toDF().orderBy("media_id")),

    // ---- Holt–Winters additive seasonal smoothing (period 7) ----
    "ts_holt_winters" -> ((s, dir) =>
      AnalyticsOps.holtWinters(events(s, dir), "event_type", "ts",
          "value")
        .orderBy("event_type")),

    // ---- minimum detectable effect at current sample sizes ----
    "analytics_ab_power" -> ((s, dir) =>
      AnalyticsOps.abPowerMde(
          events(s, dir).withColumn("arm",
            pmod(col("user_id"), lit(2)).cast("int")),
          "event_type", "arm", "value")
        .orderBy("event_type")),

    // ---- data-constrained epoch/repetition budget per source ----
    "pipe_repeat_budget" -> ((s, dir) =>
      PipelineOps.repeatBudget(t(s, dir, "documents"), "source",
          budgetChars = 1000000L, maxEpochs = 4)
        .orderBy("source")),

    // ---- piecewise trend with weekly knots + changepoint deltas ----
    "ts_segmented_trend" -> ((s, dir) =>
      AnalyticsOps.segmentedTrend(events(s, dir))
        .orderBy("event_type", "seg")),

    // ---- truncated Katz centrality (β = ½, 4 supersteps) ----
    "graph_katz" -> ((s, dir) => {
      val edges = t(s, dir, "customer").where(col("c_custkey") > 1)
        .select(col("c_custkey").as("src"),
          expr("c_custkey div 2").as("dst"))
      GraphOps.katzCentrality(edges, iters = 4).orderBy("node")
    }),

    "pipe_hash_sample" -> ((s, dir) =>
      PipelineOps.hashSample(t(s, dir, "documents"), "doc_id", "14")
        .select(col("doc_id"), col("lang")).orderBy("doc_id")),

    "pipe_stratified_sample" -> ((s, dir) =>
      PipelineOps.stratifiedSample(t(s, dir, "documents"), "lang", "doc_id",
          perStratum = 20)
        .select(col("doc_id"), col("lang")).orderBy("lang", "doc_id")),

    "pipe_source_mix" -> ((s, dir) =>
      // temperature-weighted corpus composition: 100 slots across
      // languages ∝ sqrt(n_lang), largest-remainder seats, md5 fill
      PipelineOps.sourceMix(t(s, dir, "documents"), "lang", "doc_id",
          totalN = 100)
        .orderBy("lang", "doc_id")),

    "pipe_value_histogram" -> ((s, dir) =>
      PipelineOps.histogram(events(s, dir), "value", 5.0)
        .orderBy("bucket")),

    "pipe_interleave" -> ((s, dir) =>
      // corpus mixing: English at 2x the rate of every other language
      PipelineOps.interleaveByWeight(t(s, dir, "documents"), "lang",
          when(col("lang") === "en", lit(2.0)).otherwise(lit(1.0)))
        .orderBy("mix_pos", "lang", "doc_id")),

    "x_unpivot" -> ((s, dir) =>
      // wide→long reshape via the native unpivot (melt) operator — a
      // projection-only transform, no shuffle until the final sort
      t(s, dir, "lineitem").where(col("l_orderkey") <= 2000)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount")),
          "metric", "val")
        .orderBy("l_orderkey", "l_linenumber", "metric")),

    "x_binary_suite" -> ((s, dir) =>
      // binary-column function coverage: base64 round trip, hex,
      // bit/octet lengths, sha256 — the encode/digest toolkit a media
      // or payload pipeline leans on
      t(s, dir, "part").where(col("p_partkey") <= 500)
        .select(col("p_partkey"),
          base64(col("p_name").cast("binary")).as("b64"),
          hex(col("p_partkey")).as("hx"),
          bit_length(col("p_name")).as("bl"),
          octet_length(col("p_name")).as("ol"),
          (unbase64(base64(col("p_name").cast("binary")))
            .cast("string") === col("p_name")).as("rt_ok"),
          sha2(col("p_name").cast("binary"), 256).as("sha"))
        .orderBy("p_partkey")),

    "x_bitwise_suite" -> ((s, dir) =>
      t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderkey").bitwiseAND(lit(255L)).as("b_and"),
          col("o_orderkey").bitwiseOR(lit(16L)).as("b_or"),
          col("o_orderkey").bitwiseXOR(lit(85L)).as("b_xor"),
          shiftleft(col("o_orderkey"), 2).as("b_shl"),
          shiftright(col("o_orderkey"), 3).as("b_shr"),
          bit_count(col("o_orderkey")).as("b_cnt"))
        .orderBy("o_orderkey")),

    "pipe_pack_sequences" -> ((s, dir) =>
      PipelineOps.packSequences(t(s, dir, "documents"), tokenBudget = 512,
          shardCol = "lang")
        .orderBy("lang", "doc_id")),

    "pipe_token_budget" -> ((s, dir) =>
      PipelineOps.tokenBudgetSelect(t(s, dir, "documents"),
          tokenBudget = 5000)
        .orderBy("doc_id")),

    "pipe_contamination" -> ((s, dir) => {
      // benchmark stand-in: every 50th doc is the "eval set"
      val docs = t(s, dir, "documents")
      PipelineOps.contaminationCheck(
          docs.where(col("doc_id") % 50 =!= 0),
          docs.where(col("doc_id") % 50 === 0), w = 3, minOverlap = 1)
        .orderBy("doc_id")
    }),

    "dedup_cross_corpus" -> ((s, dir) => {
      // "already used" stand-in: every 10th doc is the prior corpus
      val docs = t(s, dir, "documents")
      Dedup.crossCorpusNew(docs.where(col("doc_id") % 10 =!= 0),
          docs.where(col("doc_id") % 10 === 0))
        .orderBy("doc_id")
    }),

    "dedup_normalized" -> ((s, dir) =>
      // exact dedup over the canonicalized body: catches case/punct/
      // whitespace variants that raw body hashing misses
      t(s, dir, "documents")
        .groupBy(md5(TextOps.normalizeForDedup(col("text"))).as("norm_hash"))
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("dup_count"))
        .orderBy("norm_hash")),

    "text_repetition" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
          TextOps.repetitionRatio(col("text"), w = 2).as("rep_ratio"))
        .orderBy("doc_id")),

    "text_pii_scan" -> ((s, dir) => {
      // deterministic PII injection so the scan has positives to find:
      // every 7th doc gains an email, every 11th a phone number
      val injected = t(s, dir, "documents").withColumn("itext",
        concat(col("text"),
          when(col("doc_id") % 7 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com"))).otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit(" call 555-123-4567"))
            .otherwise(lit(""))))
      val (em, ph, flag) = TextOps.piiCounts(col("itext"))
      injected.select(col("doc_id"), em.as("n_emails"), ph.as("n_phones"),
        flag.as("has_pii")).orderBy("doc_id")
    }),

    "merge_latest_state" -> ((s, dir) => {
      val cur = billingJoin(s, dir)
        .select(col("shop_key"), col("page_views"), lit("pending").as("status"))
      val upd = billingJoin(s, dir).where(col("page_views") > 0)
        .select(col("shop_key"), col("page_views"), lit("charged").as("status"))
      MergeOps.mergeByKey(cur, upd, Seq("shop_key")).orderBy("shop_key")
    }),

    // ---- more relational surface ----
    "rollup_order_stats" -> ((s, dir) =>
      t(s, dir, "orders")
        .rollup(year(col("o_orderdate")).as("yr"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), 2).as("total"))
        .orderBy(col("yr").asc_nulls_first,
          col("o_orderstatus").asc_nulls_first)),

    "agg_distinct_orders" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("o_orderstatus")).as("n_statuses"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"),
          min(col("o_orderdate")).as("first_order"),
          max(col("o_orderdate")).as("last_order"))
        .orderBy("o_custkey")),

    "x_string_suite" -> ((s, dir) =>
      t(s, dir, "part").select(
          col("p_partkey"),
          lpad(col("p_brand"), 12, "*").as("brand_lpad"),
          rpad(col("p_brand"), 12, ".").as("brand_rpad"),
          regexp_replace(col("p_name"), " ", "_").as("name_snake"),
          reverse(col("p_type")).as("type_rev"),
          repeat(substring(col("p_brand"), 1, 2), 2).as("brand_rep"),
          instr(col("p_name"), "a").cast("long").as("first_a"),
          concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"))
        .orderBy("p_partkey")),

    "x_date_suite" -> ((s, dir) =>
      t(s, dir, "orders").select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"),
          dayofmonth(col("o_orderdate")).as("dy"),
          quarter(col("o_orderdate")).as("qtr"),
          date_trunc("month", col("o_orderdate")).as("month_start"),
          (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("plus_week"),
          last_day(col("o_orderdate")).as("month_end"),
          datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date"))
            .as("days_since_epoch"))
        .orderBy("o_orderkey")),

    "x_interval_suite" -> ((s, dir) =>
      t(s, dir, "orders").select(
          col("o_orderkey"),
          add_months(col("o_orderdate"), 1).as("plus_month"),
          add_months(col("o_orderdate"), -2).as("minus_2mo"),
          date_add(to_date(col("o_orderdate")), 45).as("plus_45d"),
          to_date(col("o_orderdate") - expr("INTERVAL 36 HOURS"))
            .as("minus_36h_date"))
        .orderBy("o_orderkey")),

    "window_lag_lead" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders").select(
          col("o_custkey"), col("o_orderkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          ntile(4).over(w).as("quartile"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    "x_array_suite" -> ((s, dir) => {
      val toks = split(trim(lower(col("text"))), "\\s+")
      t(s, dir, "documents").select(
          col("doc_id"),
          size(toks).cast("long").as("n"),
          array_contains(toks, "the").as("has_the"),
          element_at(toks, 1).as("first_tok"),
          element_at(toks, -1).as("last_tok"),
          concat_ws("|", slice(toks, 1, 3)).as("first3"),
          concat_ws("|", array_sort(array_distinct(toks))).as("sorted_distinct"))
        .orderBy("doc_id")
    }),

    "agg_quantiles" -> ((s, dir) =>
      // approximate (GK-sketch) quantiles, verified against the exact
      // interpolated percentile computed in the SAME plan — same
      // bounded-flag scheme as agg_approx_distinct_users
      events(s, dir).groupBy(col("event_type"))
        .agg(percentile_approx(col("value"), lit(0.5), lit(1000)).as("ap50"),
          percentile_approx(col("value"), lit(0.95), lit(1000)).as("ap95"),
          percentile(col("value"), lit(0.5)).as("p50_exact"),
          percentile(col("value"), lit(0.95)).as("p95_exact"))
        .select(col("event_type"), col("p50_exact"), col("p95_exact"),
          (abs(col("ap50") - col("p50_exact")) <=
            abs(col("p50_exact")) * 0.05 + lit(0.5)).as("p50_ok"),
          (abs(col("ap95") - col("p95_exact")) <=
            abs(col("p95_exact")) * 0.05 + lit(0.5)).as("p95_ok"))
        .orderBy("event_type")),

    "pivot_event_counts" -> ((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = events(s, dir).groupBy(col("user_id"))
        .pivot("event_type", types).agg(count(lit(1)))
      types.foldLeft(p)((df, ty) =>
          df.withColumn(ty, coalesce(col(ty), lit(0L))))
        .orderBy("user_id")
    }),

    "x_posexplode" -> ((s, dir) =>
      t(s, dir, "documents")
        .where(col("doc_id") < 20)
        .select(col("doc_id"),
          posexplode(split(trim(lower(col("text"))), "\\s+")))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
          col("col").as("token"))
        .orderBy("doc_id", "pos")),

    "sql_q6_revenue_delta" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("v_lineitem")
      s.sql("""
        SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(22,6)))
                 AS DOUBLE) AS revenue_delta,
               COUNT(*) AS n
        FROM v_lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount >= CAST(0.05 AS DOUBLE)
          AND l_discount <= CAST(0.07 AS DOUBLE)
          AND l_quantity < 24
      """)
    }),

    "x_null_suite" -> ((s, dir) =>
      t(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"),
          nullif(col("l_tax"), lit(0.0).cast("double")).as("tax_or_null"),
          coalesce(nullif(col("l_tax"), lit(0.0).cast("double")),
            lit(-1.0).cast("double")).as("tax_or_default"),
          isnull(nullif(col("l_returnflag"), lit("N"))).as("is_n_flag"))
        .orderBy("l_orderkey", "l_linenumber")),

    "join_null_safe" -> ((s, dir) => {
      // deterministic null injection so the NULL<=>NULL match is real:
      // every 97th user becomes an anonymous (null) key on both sides
      val ev = events(s, dir).withColumn("uid",
        when(col("user_id") % 97 === 0, lit(null)).otherwise(col("user_id")))
      val views = ev.where(col("event_type") === "view")
        .groupBy(col("uid")).agg(count(lit(1)).as("n_views")).as("v")
      val clicks = ev.where(col("event_type") === "click")
        .groupBy(col("uid")).agg(count(lit(1)).as("n_clicks")).as("c")
      views.join(clicks, col("v.uid") <=> col("c.uid"), "full")
        .select(coalesce(col("v.uid"), col("c.uid")).as("user_id"),
          coalesce(col("n_views"), lit(0L)).as("n_views"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"))
        .orderBy(col("user_id").asc_nulls_first)
    }),

    "agg_collect_suite" -> ((s, dir) =>
      // collect_list/set are order-nondeterministic; sort_array pins
      // them. Emitted as joined strings, not raw arrays: the driver's
      // comparator sorts rows with pandas and LIST cells are unhashable
      // there, so grouped-array results must cross the gate as scalars.
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(sort_array(collect_set(col("l_linestatus"))).as("sts"),
          sort_array(collect_set(col("l_shipdate").cast("date"))).as("sd"))
        .select(col("l_returnflag"),
          array_join(col("sts"), ",").as("statuses"),
          array_join(transform(slice(col("sd"), 1, 3),
            d => d.cast("string")), ",").as("first3_dates"))
        .orderBy("l_returnflag")),

    "window_rank_dense" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_orderpriority"))
      t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"))
        .orderBy("o_orderkey")
    }),

    "x_generator_suite" -> ((s, dir) =>
      // row generators: inline of per-row structs + explode_outer's
      // null-row guarantee (empty array still yields its parent row)
      t(s, dir, "region").select(col("r_regionkey"),
          explode_outer(when(col("r_regionkey") % 2 === 0,
            array(lit("a"), lit("b"))).otherwise(array().cast("array<string>")))
            .as("tag"))
        .orderBy(col("r_regionkey"), col("tag").asc_nulls_first)),

    "x_map_suite" -> ((s, dir) =>
      // map construction/lookup/keys are exercised in-plan; the MAP
      // itself leaves the query as its JSON serialization because the
      // driver's row-sort comparator needs scalar cells (see
      // agg_collect_suite note).
      t(s, dir, "region").select(col("r_regionkey"),
          to_json(map_from_arrays(array(lit("name"), lit("key")),
            array(col("r_name"), col("r_regionkey").cast("string"))))
            .as("m_json"),
          element_at(map_from_arrays(array(lit("k")), array(col("r_name"))),
            "k").as("name_via_map"),
          array_join(map_keys(map_from_arrays(array(lit("a"), lit("b")),
            array(lit(1), lit(2)))), ",").as("ks"),
          size(map_from_arrays(array(lit("a"), lit("b")),
            array(lit(1), lit(2)))).as("n_entries"))
        .orderBy("r_regionkey")),

    "x_regex_suite" -> ((s, dir) =>
      t(s, dir, "part").select(col("p_partkey"),
          regexp_extract(col("p_name"), "([a-z]+) ([a-z]+)", 2)
            .as("second_word"),
          col("p_name").rlike("^[a-z]+ ").as("starts_word"),
          size(regexp_extract_all(col("p_name"), lit("a"), lit(0)))
            .cast("long").as("n_a"),
          regexp_replace(col("p_type"), "[aeiou]", "_").as("devoweled"))
        .orderBy("p_partkey")),

    // ---- as-of / range joins (engine-grown verbs, survey §2.3 note) ----
    "join_asof_tolerance" -> ((s, dir) => {
      // last view within 1 hour of the purchase — farther views do NOT
      // fall back, they null out (merge_asof tolerance semantics)
      val ev = events(s, dir)
      RelationalOps.asofBackwardWithin(
          ev.where(col("event_type") === "purchase")
            .select(col("event_id"), col("user_id"), col("ts")),
          ev.where(col("event_type") === "view")
            .select(col("user_id"), col("ts")),
          key = "user_id", ts = "ts", pick = "ts",
          outCol = "last_view_ts", tolSeconds = 3600L)
        .orderBy("event_id")
    }),

    "join_asof_last_view" -> ((s, dir) => {
      val ev = events(s, dir)
      RelationalOps.asofBackward(
          ev.where(col("event_type") === "purchase")
            .select(col("event_id"), col("user_id"), col("ts")),
          ev.where(col("event_type") === "view")
            .select(col("user_id"), col("ts")),
          key = "user_id", ts = "ts", pick = "ts", outCol = "last_view_ts")
        .orderBy("event_id")
    }),

    "join_asof_next_view" -> ((s, dir) => {
      val ev = events(s, dir)
      RelationalOps.asofForward(
          ev.where(col("event_type") === "purchase")
            .select(col("event_id"), col("user_id"), col("ts")),
          ev.where(col("event_type") === "view")
            .select(col("user_id"), col("ts")),
          key = "user_id", ts = "ts", pick = "ts", outCol = "next_view_ts")
        .orderBy("event_id")
    }),

    "mm_resize_dims" -> ((s, dir) =>
      // maxDim 32 against the decoded PGM dims (w in 8..64, h up to
      // ~20 on this corpus) so both the resize and the pass-through
      // branch are exercised on real decoded dimensions
      Multimodal.resizeDims(
          Multimodal.extractFeatures(s,
            Multimodal.withPgmPayload(t(s, dir, "documents"))).toDF(),
          maxDim = 32)
        .orderBy("media_id")),

    "join_range_price_bands" -> ((s, dir) => {
      import s.implicits._
      // small non-uniform band dimension → broadcast theta join: the
      // right plan for interval lookup against a dim of any skew
      val bands = Seq(
        (0, "sub1k", 0d, 1000d), (1, "1k-5k", 1000d, 5000d),
        (2, "5k-20k", 5000d, 20000d), (3, "20k-50k", 20000d, 50000d),
        (4, "50kplus", 50000d, 200000d))
        .toDF("band_id", "band", "lo", "hi")
      t(s, dir, "lineitem")
        .join(broadcast(bands),
          col("l_extendedprice") >= col("lo") &&
          col("l_extendedprice") < col("hi"))
        .groupBy("band_id", "band")
        .agg(count(lit(1)).as("n"),
          dsumExpr(col("l_extendedprice")).as("total"))
        .orderBy("band_id")
    }),

    // ---- grouping sets / subqueries (Catalyst expand + decorrelation) ----
    "groupingsets_order_mix" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("v_orders")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority,
          CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
          count(*) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(22,6))) AS DOUBLE) AS total
        FROM v_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
          (o_orderstatus, o_orderpriority), ())
        ORDER BY gid, o_orderstatus, o_orderpriority
      """)
    }),

    "subq_exists_returns" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("v_orders")
      t(s, dir, "lineitem").createOrReplaceTempView("v_lineitem")
      // EXISTS decorrelates to a left-semi hash join — no per-row subquery
      s.sql("""
        SELECT o_orderpriority, count(*) AS order_count FROM v_orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
          AND EXISTS (SELECT 1 FROM v_lineitem
            WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        GROUP BY o_orderpriority ORDER BY o_orderpriority
      """)
    }),

    "subq_scalar_q17" -> ((s, dir) => {
      // decorrelated form of TPC-H Q17's scalar subquery: per-part avg
      // once via groupBy, then a broadcast join back — not a per-row probe
      val flt = t(s, dir, "part")
        .where(col("p_brand") === "Brand#4" && col("p_size") < 15)
        .select("p_partkey")
      val liP = t(s, dir, "lineitem")
        .join(broadcast(flt), col("p_partkey") === col("l_partkey"))
      val avgQ = liP.groupBy(col("l_partkey").as("ak"))
        .agg(avg(col("l_quantity")).as("avg_qty"))
      liP.join(broadcast(avgQ), col("l_partkey") === col("ak"))
        .where(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg((dsumExpr(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"),
          count(lit(1)).as("n"))
    }),

    // ---- window frames: value frames, interval range frames, ranks ----
    "window_frame_suite" -> ((s, dir) => {
      val w1 = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wFull = w1.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      t(s, dir, "orders").select(
          col("o_orderkey"), col("o_custkey"),
          first(col("o_orderkey")).over(w1).as("first_key"),
          last(col("o_orderkey")).over(wFull).as("last_key"),
          nth_value(col("o_orderkey"), 2).over(wFull).as("second_key"),
          percent_rank().over(w1).as("pr"),
          cume_dist().over(w1).as("cd"),
          expr("""CAST(SUM(CAST(o_totalprice AS DECIMAL(22,6))) OVER (
              PARTITION BY o_custkey ORDER BY o_orderdate
              RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)
            AS DOUBLE)""").as("trailing30"))
        .orderBy("o_orderkey")
    }),

    // ---- time-series spine + gap fill ----
    "ts_interpolate" -> ((s, dir) => {
      // same spine as ts_gapfill; nulls BETWEEN observations take the
      // straight-line value, leading/trailing nulls stay null
      val ev = events(s, dir).where(col("user_id") < 40)
      val daily = ev
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(max(col("value")).as("v"))
      val spine = ev.select("user_id").distinct()
        .select(col("user_id"),
          explode(sequence(to_date(lit("2024-01-01")),
            to_date(lit("2024-01-30")))).as("day"))
      RelationalOps.linearInterpolate(
          spine.join(daily, Seq("user_id", "day"), "left_outer"),
          key = "user_id", order = "day", value = "v", outCol = "v_interp")
        .select(col("user_id"), col("day"), col("v"), col("v_interp"))
        .orderBy("user_id", "day")
    }),

    "ts_gapfill" -> ((s, dir) => {
      val ev = events(s, dir).where(col("user_id") < 40)
      val daily = ev
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(max(col("value")).as("v"), count(lit(1)).as("n"))
      val spine = ev.select("user_id").distinct()
        .select(col("user_id"),
          explode(sequence(to_date(lit("2024-01-01")),
            to_date(lit("2024-01-30")))).as("day"))
      val filled = RelationalOps.forwardFill(
        spine.join(daily, Seq("user_id", "day"), "left_outer"),
        key = "user_id", order = "day", value = "v", outCol = "v_fill")
      filled.select(col("user_id"), col("day"),
          coalesce(col("n"), lit(0L)).as("n_events"), col("v_fill"))
        .orderBy("user_id", "day")
    }),

    "having_large_orders" -> ((s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
        .where(col("sum_qty") > 220)
      t(s, dir, "orders")
        .join(big, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice").as("total"), col("sum_qty"))
        .orderBy("o_orderkey")
    }),

    // ---- source formats beyond parquet: CSV / JSON round-trips ----
    "src_csv_roundtrip" -> ((s, dir) => {
      val src = t(s, dir, "nation")
      val path = "/tmp/graft_src/nation_csv"
      src.write.mode("overwrite").option("header", "true").csv(path)
      s.read.schema(src.schema).option("header", "true").csv(path)
        .orderBy("n_nationkey")
    }),

    "src_text_roundtrip" -> ((s, dir) => {
      // line-oriented text source/sink — the raw-corpus ingestion
      // format; one tab-joined line per row, read back as `value` and
      // re-split. Newlines/tabs don't occur in the synthetic names, so
      // the codec is trivially invertible here.
      val path = "/tmp/graft_src/nation_text"
      t(s, dir, "nation")
        .select(concat_ws("\t", col("n_nationkey"), col("n_name")))
        .write.mode("overwrite").text(path)
      s.read.text(path)
        .select(split(col("value"), "\t").as("p"))
        .select(element_at(col("p"), 1).cast("long").as("n_nationkey"),
          element_at(col("p"), 2).as("n_name"))
        .orderBy("n_nationkey")
    }),

    "src_synth_pushdown" -> ((s, dir) =>
      // custom DSv2 source: the id-range predicate pushes into the
      // connector (interval narrowed before any row is generated);
      // the bucket predicate stays a residual filter
      s.read.format("graft.sources.SyntheticProvider")
        .option("rows", "100000").option("parts", "8").load()
        .where(col("id") >= 1000 && col("id") < 2000 && col("bucket") === 3)
        .select(col("id"), col("payload"))
        .orderBy("id")),

    "src_synth_agg_pushdown" -> ((s, dir) =>
      // complete aggregate pushdown: count/min/max over the pushed id
      // interval collapse to one closed-form connector row — the plan
      // carries NO aggregate node (asserted in PlanAuditSpec)
      s.read.format("graft.sources.SyntheticProvider")
        .option("rows", "100000").option("parts", "8").load()
        .where(col("id") >= 1234 && col("id") < 98765)
        .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"),
          max(col("id")).as("max_id"))),

    "src_orc_roundtrip" -> ((s, dir) => {
      val src = t(s, dir, "supplier")
      val path = "/tmp/graft_src/supplier_orc"
      src.write.mode("overwrite").orc(path)
      s.read.schema(src.schema).orc(path).orderBy("s_suppkey")
    }),

    "skew_salted_agg" -> ((s, dir) =>
      // two-phase salted count over a 5-hot-key column — the salted
      // plan must equal the plain group-by bit-for-bit (the oracle IS
      // the plain group-by)
      SkewOps.saltedCount(events(s, dir).select(col("event_type")),
          "event_type", salt = 8)
        .orderBy("event_type")),

    "skew_salted_join" -> ((s, dir) => {
      // salted inner join against a replicated per-type dim: the
      // too-big-to-broadcast + hot-key case AQE skew handling can't
      // reach (it only splits sort-merge partitions). Left rows
      // scatter over 8 deterministic salt buckets, dim rows replicate
      // ×8 — a key holding 40 % of the log now lands on 8 reducers.
      // The oracle IS the plain join: salting must be invisible.
      val ev = events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val dim = events(s, dir).groupBy("event_type")
        .agg(count(lit(1)).as("type_total"))
      SkewOps.saltedJoin(ev.where(col("event_id") <= 5000), dim,
          "event_type", salt = 8)
        .orderBy("event_id")
    }),

    "src_json_roundtrip" -> ((s, dir) => {
      val src = t(s, dir, "region")
      val path = "/tmp/graft_src/region_json"
      src.write.mode("overwrite").json(path)
      s.read.schema(src.schema).json(path).orderBy("r_regionkey")
    }),

    "src_partitioned_prune" -> ((s, dir) => {
      // partition-layout half of the scan story: the log is laid out
      // hive-style by event_date at write time, so the daily query
      // reads exactly ONE directory — directory pruning at the file
      // index, before any row group is opened (PartitionPruneSpec
      // asserts selectedPartitions == 1). The complement of the
      // row-group-stats pushdown eventsOnDate relies on.
      val path = "/tmp/graft_src/events_partitioned"
      events(s, dir).withColumn("event_date", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("event_date").parquet(path)
      s.read.parquet(path)
        .where(col("event_date") === lit(D).cast("date"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy("event_type")
    }),

    "src_timetravel_log" -> ((s, dir) => {
      // the TRANSACTIONAL half of the storage story: a log-structured
      // table (LogStore — the Delta-paper pattern) driven through its
      // whole life cycle — two appends, a logical delete, a
      // compaction — then read at latest AND at version 0. The oracle
      // recomputes the equivalent relational state from the raw
      // table; the transactional mechanics themselves (snapshot
      // isolation, conflict detection, crash invisibility) are
      // LogStoreSpec's job.
      val docs = t(s, dir, "documents")
      val root = java.nio.file.Files
        .createTempDirectory("graft-ttl").toString + "/tbl"
      val store = new graft.catalog.LogStore(s, root)
      store.append(docs.where(col("lang") === "en"))
      store.append(docs.where(col("lang") =!= "en"))
      store.deleteWhere("lang = 'de'")
      store.compact()
      val v0 = store.read(0).groupBy(col("lang"))
        .agg(count(lit(1)).as("n_v0"))
      store.read().groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .join(v0, Seq("lang"), "left")
        .select(col("lang"), col("n"), col("chars"),
          coalesce(col("n_v0"), lit(0L)).as("n_v0"))
        .orderBy("lang")
    }),

    "src_dataskip_log" -> ((s, dir) => {
      // log-side data skipping: three doc_id-disjoint segments, a
      // range read that must scan exactly ONE of them — the scan/live
      // counts ride in the OUTPUT so the oracle pins the skip rate,
      // not just the row results
      val docs = t(s, dir, "documents")
      val root = java.nio.file.Files
        .createTempDirectory("graft-dsl").toString + "/tbl"
      val store = new graft.catalog.LogStore(s, root,
        statsCol = Some("doc_id"))
      store.append(docs.where(col("doc_id") < 150))
      store.append(docs.where(col("doc_id") >= 150 &&
        col("doc_id") < 300))
      store.append(docs.where(col("doc_id") >= 300))
      val (scan, hit, live) = store.readRange("160", "260")
      scan.groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .withColumn("segments_scanned", lit(hit))
        .withColumn("segments_live", lit(live))
        .orderBy("lang")
    }),

    "src_restore_log" -> ((s, dir) => {
      // RESTORE as an audited undo: a bad delete lands at v2, restore
      // rolls the table forward to v1's content at v3 — the restored
      // aggregate must equal the pristine table, the restored version
      // and the still-readable pre-restore row count ride as literals
      val docs = t(s, dir, "documents")
      val root = java.nio.file.Files
        .createTempDirectory("graft-rsl").toString + "/tbl"
      val store = new graft.catalog.LogStore(s, root)
      store.append(docs.where(col("doc_id") < 150))
      store.append(docs.where(col("doc_id") >= 150))
      store.deleteWhere("lang = 'en'")
      val v = store.restore(1)
      store.read().groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .withColumn("restored_version", lit(v))
        .withColumn("pre_restore_rows", lit(store.read(2).count()))
        .orderBy("lang")
    }),

    "src_bloomskip_log" -> ((s, dir) => {
      // Bloom-skipped STRING point lookup — the skip min/max stats
      // cannot express: three segments holding disjoint lang sets,
      // a lookup of 'de' that must open exactly ONE of them; the
      // scan/live counts ride in the OUTPUT so the oracle pins the
      // skip rate, not just the row results
      val docs = t(s, dir, "documents")
      val root = java.nio.file.Files
        .createTempDirectory("graft-bsl").toString + "/tbl"
      val store = new graft.catalog.LogStore(s, root,
        bloomCol = Some("lang"))
      store.append(docs.where(col("lang") === "en"))
      store.append(docs.where(col("lang").isin("de", "fr")))
      store.append(docs.where(col("lang").isin("es", "zh")))
      val (scan, hit, live) = store.pointLookup("de")
      scan.groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .withColumn("segments_scanned", lit(hit))
        .withColumn("segments_live", lit(live))
        .orderBy("source")
    }),

    "src_merge_log" -> ((s, dir) => {
      // copy-on-write MERGE through the log table: an UPDATE whose key
      // range hits one of three doc_id-disjoint segments (rewritten=1)
      // and an INSERT whose keys land beyond every segment's stats
      // range (rewritten=0 — a pure append) — both rewrite counts ride
      // in the OUTPUT so the oracle pins the copy-on-write pruning,
      // not just the merged rows. Conflict/time-travel semantics are
      // LogStoreSpec's job.
      val docs = t(s, dir, "documents")
      val root = java.nio.file.Files
        .createTempDirectory("graft-mrg").toString + "/tbl"
      val store = new graft.catalog.LogStore(s, root,
        statsCol = Some("doc_id"))
      store.append(docs.where(col("doc_id") < 150))
      store.append(docs.where(col("doc_id") >= 150 &&
        col("doc_id") < 300))
      store.append(docs.where(col("doc_id") >= 300))
      val upd = store.merge(
        docs.where(col("doc_id").between(160, 170))
          .withColumn("lang", lit("xx")), "doc_id")
      val ins = store.merge(
        docs.where(col("doc_id") < 5)
          .withColumn("doc_id", col("doc_id") + 100000), "doc_id")
      store.read().groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .withColumn("upd_rewritten", lit(upd.rewritten))
        .withColumn("upd_live", lit(upd.live))
        .withColumn("ins_rewritten", lit(ins.rewritten))
        .withColumn("ins_live", lit(ins.live))
        .orderBy("lang")
    }),

    "src_cdc_log" -> ((s, dir) => {
      // the change data feed through a full table life cycle: two
      // appends (implied inserts — the hot path writes no extra
      // bytes), a merge (pre/post images), a delete (delete rows), a
      // compaction (dataChange=false, contributes NOTHING) — then one
      // readChanges(0) aggregated by change type. The replay/vacuum
      // semantics are LogStoreSpec's job.
      val docs = t(s, dir, "documents")
      val root = java.nio.file.Files
        .createTempDirectory("graft-cdc").toString + "/tbl"
      val store = new graft.catalog.LogStore(s, root,
        statsCol = Some("doc_id"))
      store.append(docs.where(col("doc_id") < 250))
      store.append(docs.where(col("doc_id") >= 250))
      store.merge(docs.where(col("doc_id").between(100, 120))
        .withColumn("lang", lit("xx")), "doc_id")
      store.deleteWhere("lang = 'de'")
      store.compact()
      store.readChanges(0)
        .groupBy(col("_change_type"), col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy("_change_type", "lang")
    }),

    "src_deleterange_log" -> ((s, dir) => {
      // stats-pruned delete: three doc_id-disjoint segments, a range
      // purge that must rewrite exactly ONE of them (the others carry
      // over untouched), a provably-empty range that must be a
      // commit-free no-op, and the feed carrying exactly the deleted
      // rows — all pinned as literal columns the oracle checks
      val docs = t(s, dir, "documents")
      val root = java.nio.file.Files
        .createTempDirectory("graft-drl").toString + "/tbl"
      val store = new graft.catalog.LogStore(s, root,
        statsCol = Some("doc_id"))
      store.append(docs.where(col("doc_id") < 150))
      store.append(docs.where(col("doc_id") >= 150 &&
        col("doc_id") < 300))
      store.append(docs.where(col("doc_id") >= 300))
      val r = store.deleteRange("doc_id", "160", "260")
      val miss = store.deleteRange("doc_id", "1000000", "2000000")
      store.read().groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .withColumn("del_rewritten", lit(r.rewritten))
        .withColumn("del_live", lit(r.live))
        .withColumn("miss_rewritten", lit(miss.rewritten))
        .withColumn("miss_noop",
          lit(store.latestVersion() == r.version))
        .withColumn("feed_deletes",
          lit(store.readChanges(r.version, r.version).count()))
        .orderBy("lang")
    }),

    "src_multistats_log" -> ((s, dir) => {
      // multi-column segment stats — the real pruning mix: events
      // quartered into (early/late date) × (low/high user) segments,
      // then a date+key conjunctive read that must open exactly ONE
      // of four where date-only stats would open two. Scanned counts
      // ride as literals; the aggregate is the full-scan filter's
      // (pruning is never a semantics change).
      val ev = events(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), col("value"), to_date(col("ts")).as("d"))
      val uMax = ev.agg(max(col("user_id")).cast("long")).head.getLong(0)
      val uMid = uMax / 2
      val root = java.nio.file.Files
        .createTempDirectory("graft-mst").toString + "/tbl"
      val store = new graft.catalog.LogStore(s, root,
        statsCol = Some("d"), statsCols = Seq("user_id"))
      val cut = lit("2024-01-15").cast("date")
      store.append(ev.where(col("d") < cut && col("user_id") < uMid))
      store.append(ev.where(col("d") < cut && col("user_id") >= uMid))
      store.append(ev.where(col("d") >= cut && col("user_id") < uMid))
      store.append(ev.where(col("d") >= cut && col("user_id") >= uMid))
      val (lo, hi) = (uMax / 4, uMid - 1)
      val (rows, both, live) = store.readRangeAll(Seq(
        ("d", "2024-01-20", "2024-01-25"),
        ("user_id", lo.toString, hi.toString)))
      val (_, dateOnly, _) =
        store.readRangeOn("d", "2024-01-20", "2024-01-25")
      rows.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .withColumn("segments_scanned", lit(both))
        .withColumn("date_only_scanned", lit(dateOnly))
        .withColumn("segments_live", lit(live))
        .orderBy("event_type")
    }),

    "src_optimize_log" -> ((s, dir) => {
      // OPTIMIZE as the skip-rate story, end to end: a lineitem slice
      // keyed by the Hilbert index of (l_orderkey, l_partkey) is
      // ingested in four curve-OBLIVIOUS hash slices — every segment
      // spans the whole curve, stats prune nothing — then
      // optimize(8, h) reclusters. The same rectangle scan runs
      // before and after: the pre counts and the post improvement
      // ride as literals, the aggregate pins snapshot invariance, and
      // the feed row count pins dataChange=false. Transactional
      // mechanics (rollback safety, orphan reclaim) are LogStoreSpec's.
      val li = t(s, dir, "lineitem").where(col("l_orderkey") <= 2000)
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
        .withColumn("h", graft.operators.LayoutOps.hilbertValue(
          col("l_orderkey"), col("l_partkey"), order = 16))
      val root = java.nio.file.Files
        .createTempDirectory("graft-opt").toString + "/tbl"
      val store = new graft.catalog.LogStore(s, root,
        statsCol = Some("h"))
      (0 until 4).foreach(i =>
        store.append(li.where(pmod(col("l_orderkey"), lit(4)) === i)))
      def rect() = graft.operators.LayoutOps.rectScanClustered(store,
        "l_orderkey", "l_partkey", 100, 100, 400, 400, order = 16,
        hilbert = true)
      val (_, preScanned, preLive) = rect()
      val res = store.optimize(8, col("h"))
      val (rows, postScanned, postLive) = rect()
      rows.agg(count(lit(1)).as("n_rect"),
          dsum(col("l_quantity")).as("sum_qty"))
        .withColumn("segments_before", lit(preLive))
        .withColumn("pre_scanned", lit(preScanned))
        .withColumn("segments_after", lit(res.produced))
        .withColumn("optimize_improves_skip",
          lit(postScanned < preScanned && postScanned * 2 <= postLive))
        .withColumn("feed_rows",
          lit(store.readChanges(res.version, res.version).count()))
        .withColumn("snapshot_rows", lit(store.read().count()))
        .withColumn("snapshot_invariant",
          lit(store.read(res.version - 1).count() ==
            store.read().count()))
    }),

    "src_optimize_where" -> ((s, dir) => {
      // SUBSET OPTIMIZE — the 100 TB form of the weekly maintenance
      // command: six segments (a healthy low range, four
      // hash-sliced ones spanning [100, 400) whose stats prune
      // nothing, a healthy high range), then optimizeWhere
      // re-clusters ONLY the middle range. Pinned: 4 rewritten / 2
      // carried over as the SAME segments (by name), the probe's
      // skip improves inside the selected range, zero feed rows
      // (dataChange=false), snapshot invariance, and a
      // provably-empty selection is a commit-free no-op.
      val docs = t(s, dir, "documents")
      val root = java.nio.file.Files
        .createTempDirectory("graft-optw").toString + "/tbl"
      val store = new graft.catalog.LogStore(s, root,
        statsCol = Some("doc_id"))
      store.append(docs.where(col("doc_id") < 100))
      (0 until 4).foreach(i => store.append(
        docs.where(col("doc_id") >= 100 && col("doc_id") < 400 &&
          pmod(col("doc_id"), lit(4)) === i)))
      store.append(docs.where(col("doc_id") >= 400))
      val keepNames = store.liveSegmentInfos()
        .filterNot(_.mayOverlapOn("doc_id", "100", "399"))
        .map(_.name).toSet
      val (_, preScanned, _) = store.readRangeOn("doc_id", "200", "260")
      val r = store.optimizeWhere(4, Seq(("doc_id", "100", "399")),
        clusterBy = Seq(col("doc_id")))
      val (_, postScanned, _) = store.readRangeOn("doc_id", "200", "260")
      val afterNames = store.liveSegmentInfos().map(_.name).toSet
      val vTop = store.latestVersion()
      val miss = store.optimizeWhere(2, Seq(("doc_id", "900000", "999999")))
      store.read().groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .withColumn("rewritten", lit(r.rewritten))
        .withColumn("carried", lit(r.carried))
        .withColumn("produced", lit(r.produced))
        .withColumn("pre_scanned", lit(preScanned))
        .withColumn("carried_same", lit(keepNames.subsetOf(afterNames)))
        .withColumn("optimize_improves_skip",
          lit(postScanned < preScanned))
        .withColumn("feed_rows",
          lit(store.readChanges(r.version, r.version).count()))
        .withColumn("snapshot_invariant",
          lit(store.read(r.version - 1).count() == store.read().count()))
        .withColumn("noop_pinned",
          lit(miss.rewritten == 0 && store.latestVersion() == vTop))
        .orderBy("lang")
    }),

    "src_feed_batch" -> ((s, dir) => {
      // CDF backfill as a plain DataFrame: the change feed read
      // through the BATCH side of the native graft-log source (two
      // appends = implied inserts, a delete's cdc rows verbatim, the
      // compaction contributing nothing), aggregated by change type —
      // the audit/backfill path an incremental consumer bootstraps
      // from, with the whole batch optimizer behind it.
      val docs = t(s, dir, "documents")
      val root = java.nio.file.Files
        .createTempDirectory("graft-sfb").toString + "/tbl"
      val store = new graft.catalog.LogStore(s, root,
        statsCol = Some("doc_id"))
      store.append(docs.where(col("doc_id") < 250))
      store.append(docs.where(col("doc_id") >= 250))
      store.deleteWhere("lang = 'ja'")
      store.compact()
      s.read.format("graft-log").option("path", root).load()
        .groupBy(col("_change_type"), col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy("_change_type", "lang")
    }),

    "src_connector_rt" -> ((s, dir) => {
      // the full DSv2 round trip: a configured table appended to by
      // the programmatic API AND by the connector SINK (executors
      // write staged parquet files, the driver publishes ONE commit
      // through the same stats/schema gate), then read back through
      // the connector's SNAPSHOT mode with the range predicate pushed
      // down to segment skipping. Pinned as a literal: the stats
      // probe opens 1 of the 2 segments — the connector-written one
      // carries real bounds — while the result set is exactly the
      // full scan's.
      val ev = events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val root = java.nio.file.Files
        .createTempDirectory("graft-crt").toString + "/tbl"
      val store = new graft.catalog.LogStore(s, root,
        statsCol = Some("event_id"))
      store.append(ev.where(col("event_id") < 500))
      ev.where(col("event_id") >= 500).write.format("graft-log")
        .option("path", root).mode("append").save()
      val reader = graft.catalog.LogStore.configured(s, root)
      val (_, scanned, live) =
        reader.readRangeOn("event_id", "600", "900")
      s.read.format("graft-log").option("path", root)
        .option("mode", "snapshot").load()
        .where(col("event_id").between(600, 900))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .withColumn("pruned", lit(scanned == 1 && live == 2))
        .orderBy("event_type")
    }),

    "src_agg_pushdown_log" -> ((s, dir) => {
      // the O(segments) aggregate: COUNT(*)/MIN/MAX over a
      // transactional table answered FROM THE LOG's per-segment row
      // counts and bounds — zero data scanned (at 100 TB: metadata vs
      // table). The plan carrying the stats-aggregate marker is
      // pinned as a literal; the values must equal the plain
      // computation's exactly.
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"))
      val root = java.nio.file.Files
        .createTempDirectory("graft-aggpd").toString + "/tbl"
      val store = new graft.catalog.LogStore(s, root,
        statsCol = Some("doc_id"), statsCols = Seq("n_chars"))
      store.append(docs.where(pmod(col("doc_id"), lit(3)) === 0))
      store.append(docs.where(pmod(col("doc_id"), lit(3)) === 1))
      store.append(docs.where(pmod(col("doc_id"), lit(3)) === 2))
      val aggDf = s.read.format("graft-log").option("path", root)
        .option("mode", "snapshot").load()
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
      val fromLog = aggDf.queryExecution.executedPlan.toString
        .contains("GraftLogStatsAggregate")
      aggDf.withColumn("answered_from_log", lit(fromLog))
    }),

    "src_sql_catalog" -> ((s, dir) => {
      // the engine from PURE SQL: a GraftLogCatalog registered on the
      // session, CREATE TABLE with the skipping config as
      // TBLPROPERTIES, two INSERT INTO ... SELECT commits, SQL time
      // travel (VERSION AS OF 1 must see exactly the first insert —
      // pinned as a literal), and the headline aggregate read back
      // through the catalog's snapshot scan with the range predicate
      // pushed down to segment skipping.
      val cat = "graftsql"
      if (!s.conf.getAll.contains(s"spark.sql.catalog.$cat")) {
        val root = java.nio.file.Files
          .createTempDirectory("graft-sqlcat").toString
        s.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.GraftLogCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
      }
      val tbl = s"$cat.bench.ev_${java.util.UUID.randomUUID()
        .toString.take(8)}"
      events(s, dir).select(col("event_id"), col("event_type"),
        col("value")).createOrReplaceTempView("src_sqlcat_events")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.bench")
      s.sql(s"CREATE TABLE $tbl (event_id BIGINT, event_type STRING, " +
        "value DOUBLE) TBLPROPERTIES ('statsCol' = 'event_id')")
      s.sql(s"INSERT INTO $tbl SELECT * FROM src_sqlcat_events " +
        "WHERE event_id < 500")
      s.sql(s"INSERT INTO $tbl SELECT * FROM src_sqlcat_events " +
        "WHERE event_id >= 500")
      val v1 = s.sql(s"SELECT count(*) FROM $tbl VERSION AS OF 1")
        .head().getLong(0)
      s.sql(s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |   AS sum_value
        |FROM $tbl WHERE event_id BETWEEN 600 AND 900
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
        .withColumn("v1_pinned", lit(v1 == 500L))
    }),

    "stream_table_tail" -> ((s, dir) => {
      // STREAMING A TABLE (readStream.table on the catalog): the
      // first micro-batch is the initial snapshot, later batches the
      // append tail, a compaction mid-history contributes nothing —
      // the aggregate over the stream must equal the batch aggregate
      // of the table's rows exactly.
      val cat = "graftsql"
      if (!s.conf.getAll.contains(s"spark.sql.catalog.$cat")) {
        val r0 = java.nio.file.Files
          .createTempDirectory("graft-sqlcat").toString
        s.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.GraftLogCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", r0)
      }
      val short = s"tail_${java.util.UUID.randomUUID().toString.take(8)}"
      val tbl = s"$cat.bench.$short"
      events(s, dir).select(col("event_id"), col("event_type"),
        col("value")).createOrReplaceTempView("src_tail_events")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.bench")
      s.sql(s"CREATE TABLE $tbl (event_id BIGINT, event_type STRING, " +
        "value DOUBLE) TBLPROPERTIES ('statsCol' = 'event_id')")
      (0 until 3).foreach { i =>
        s.sql(s"INSERT INTO $tbl SELECT * FROM src_tail_events " +
          s"WHERE event_id % 3 = $i")
        if (i == 1) new graft.catalog.LogStore(s,
          s"${s.conf.get(s"spark.sql.catalog.$cat.root")}/bench/$short")
          .compact()
      }
      val q = s.readStream.table(tbl)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .writeStream.outputMode("complete").format("memory")
        .queryName("stream_table_tail_mem").start()
      try q.processAllAvailable() finally q.stop()
      s.table("stream_table_tail_mem").orderBy("event_type")
    }),

    "stream_upsert_state" -> ((s, dir) => {
      // UPDATE-MODE aggregation → keyed upserts into a graft-log
      // table, exactly once ACROSS A RESTART: phase 1 streams half
      // the events (one commit per micro-batch) into a per-type
      // (n, sum) state table via foreachBatch + applyChangesKeyed
      // (txn-fenced); the query is then STOPPED, the other half
      // lands in the source, and a NEW query on the same checkpoint
      // resumes — aggregation state from the streaming checkpoint,
      // table cursor from the fence. The final table must equal the
      // batch aggregate of ALL events exactly (the oracle), with no
      // double-applied or missing micro-batch.
      val ev = events(s, dir).select(col("event_id"),
        col("event_type"), col("value"))
      val base = java.nio.file.Files
        .createTempDirectory("graft-ups").toString
      val srcRoot = s"$base/src"
      val tgt = new graft.catalog.LogStore(s, s"$base/state")
      val src = new graft.catalog.LogStore(s, srcRoot)
      // a 20% modulus slice: the upsert/restart semantics are
      // volume-independent, the two stream startups dominate anyway
      src.append(ev.where(col("event_id") % 10 === 0))
      def agg(): DataFrame = s.readStream.format("graft-log")
        .option("path", srcRoot).load()
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      // state partitions sized to the key cardinality (a handful of
      // event types), not the shuffle default — see withStatePartitions
      val q1 = graft.streaming.StreamingOps.upsertAggToLog(agg(),
        tgt, Seq("event_type"), s"$base/ckpt", statePartitions = Some(8))
      try q1.processAllAvailable() finally q1.stop()
      src.append(ev.where(col("event_id") % 10 === 5))
      val q2 = graft.streaming.StreamingOps.upsertAggToLog(agg(),
        tgt, Seq("event_type"), s"$base/ckpt", statePartitions = Some(8))
      try q2.processAllAvailable() finally q2.stop()
      tgt.read().orderBy("event_type")
    }),

    "stream_watermark_counts" -> ((s, dir) => {
      // the native feed composes with EVENT-TIME semantics:
      // out-of-order rows arrive over four source COMMITS (one
      // micro-batch each via maxVersionsPerTrigger=1), a 30-minute
      // watermark + 1-hour tumbling window in APPEND mode emits a
      // window only once the watermark passes its end, and a
      // too-late row (behind the watermark) is DROPPED — the oracle
      // is the finalized-window set with the same drop applied,
      // pinned as literals.
      val root = java.nio.file.Files
        .createTempDirectory("graft-wm").toString + "/tbl"
      val store = new graft.catalog.LogStore(s, root)
      def rows(specs: (String, String)*) = {
        val sel = specs.map { case (ts, k) =>
          s"SELECT to_timestamp('$ts') AS ts, '$k' AS k"
        }.mkString(" UNION ALL ")
        s.sql(sel)
      }
      store.append(rows(("2024-01-01 00:10:00", "a"),
        ("2024-01-01 00:20:00", "a"), ("2024-01-01 00:30:00", "b"),
        ("2024-01-01 01:10:00", "a")))          // v0: hours 0 and 1
      store.append(rows(("2024-01-01 02:30:00", "b"))) // v1: wm→02:00
      store.append(rows(("2024-01-01 03:30:00", "a"))) // v2: hours 0-2
                                                       //     finalize
      store.append(rows(("2024-01-01 00:15:00", "a"))) // v3: LATE —
        // its window was already emitted+evicted, so the row is
        // DROPPED (the one-directional watermark guarantee)
      // state partitions sized to the bounded window×key set, not the
      // shuffle default — see withStatePartitions
      val q = StreamingOps.withStatePartitions(s, 8) {
        s.readStream.format("graft-log").option("path", root)
          .option("maxVersionsPerTrigger", "1").load()
          .withWatermark("ts", "30 minutes")
          .groupBy(window(col("ts"), "1 hour"), col("k"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").as("window_start"), col("k"),
            col("n"))
          .writeStream.outputMode("append").format("memory")
          .queryName("stream_wm_mem").start()
      }
      try q.processAllAvailable() finally q.stop()
      // hours 0-2 finalized (watermark 03:00); hour 3 withheld; the
      // 00:15 straggler dropped — exactly the batch semantics of
      // "count rows not behind the watermark at their arrival"
      s.table("stream_wm_mem").orderBy("window_start", "k")
    }),

    "src_sql_delete" -> ((s, dir) => {
      // SQL DML end to end: DELETE FROM with a closed range on the
      // stats column (the stats-pruned deleteRange path) and a
      // general IN predicate (copy-on-write), both honest CDF
      // events; the remainder aggregated through the catalog's
      // snapshot scan. The oracle recomputes the remainder on the
      // source table.
      val cat = "graftsql"
      if (!s.conf.getAll.contains(s"spark.sql.catalog.$cat")) {
        val r0 = java.nio.file.Files
          .createTempDirectory("graft-sqlcat").toString
        s.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.GraftLogCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", r0)
      }
      val tbl = s"$cat.bench.del_${java.util.UUID.randomUUID()
        .toString.take(8)}"
      events(s, dir).select(col("event_id"), col("event_type"),
        col("value")).createOrReplaceTempView("src_sqldel_events")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.bench")
      s.sql(s"CREATE TABLE $tbl (event_id BIGINT, event_type STRING, " +
        "value DOUBLE) TBLPROPERTIES ('statsCol' = 'event_id')")
      s.sql(s"INSERT INTO $tbl SELECT * FROM src_sqldel_events")
      s.sql(s"DELETE FROM $tbl WHERE event_id >= 100 AND " +
        "event_id <= 199")
      s.sql(s"DELETE FROM $tbl WHERE event_id IN (5, 10, 15)")
      s.sql(s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |   AS sum_value
        |FROM $tbl GROUP BY event_type ORDER BY event_type"""
        .stripMargin)
    }),

    "src_sql_update" -> ((s, dir) => {
      // SQL UPDATE end to end: the DSv2 row-level-operation path
      // (group-based copy-on-write, runtime group filtering narrowing
      // the rewrite to segments that hold matches — the mergeKeyed
      // economics through pure SQL). Two clustered inserts make the
      // stats ranges disjoint; the UPDATE touches one range; the
      // oracle recomputes the final state on the source rows.
      val cat = "graftsql"
      if (!s.conf.getAll.contains(s"spark.sql.catalog.$cat")) {
        val r0 = java.nio.file.Files
          .createTempDirectory("graft-sqlcat").toString
        s.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.GraftLogCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", r0)
      }
      val tbl = s"$cat.bench.upd_${java.util.UUID.randomUUID()
        .toString.take(8)}"
      events(s, dir).select(col("event_id"), col("event_type"),
        col("value")).createOrReplaceTempView("src_sqlupd_events")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.bench")
      s.sql(s"CREATE TABLE $tbl (event_id BIGINT, event_type STRING, " +
        "value DOUBLE) TBLPROPERTIES ('statsCol' = 'event_id')")
      s.sql(s"INSERT INTO $tbl SELECT * FROM src_sqlupd_events " +
        "WHERE event_id < 500")
      s.sql(s"INSERT INTO $tbl SELECT * FROM src_sqlupd_events " +
        "WHERE event_id >= 500")
      s.sql(s"UPDATE $tbl SET value = value * 2 " +
        "WHERE event_id BETWEEN 100 AND 199")
      s.sql(s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |   AS sum_value
        |FROM $tbl GROUP BY event_type ORDER BY event_type"""
        .stripMargin)
    }),

    "src_sql_merge" -> ((s, dir) => {
      // SQL MERGE INTO end to end — matched-update, matched-delete
      // and not-matched-insert in ONE atomic commit through the
      // row-level path; the oracle recomputes the merged state from
      // the source rows. event_id is unique in the events table, so
      // both MERGE cardinality rules hold by construction.
      val cat = "graftsql"
      if (!s.conf.getAll.contains(s"spark.sql.catalog.$cat")) {
        val r0 = java.nio.file.Files
          .createTempDirectory("graft-sqlcat").toString
        s.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.GraftLogCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", r0)
      }
      val tbl = s"$cat.bench.mrg_${java.util.UUID.randomUUID()
        .toString.take(8)}"
      val ev = events(s, dir).select(col("event_id"),
        col("event_type"), col("value"))
      ev.createOrReplaceTempView("src_sqlmrg_events")
      // the change set: re-triple [50,149], drop [150,159], graft ten
      // fresh ids far outside the table's range
      ev.where(col("event_id").between(50, 149))
        .select(col("event_id"), lit("u").as("action"),
          col("event_type"), (col("value") * 3).as("value"))
        .unionByName(ev.where(col("event_id").between(150, 159))
          .select(col("event_id"), lit("d").as("action"),
            col("event_type"), col("value")))
        .unionByName(ev.where(col("event_id") < 10)
          .select((col("event_id") + 1000000L).as("event_id"),
            lit("i").as("action"), lit("merged-in").as("event_type"),
            col("value")))
        .createOrReplaceTempView("src_sqlmrg_src")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.bench")
      s.sql(s"CREATE TABLE $tbl (event_id BIGINT, event_type STRING, " +
        "value DOUBLE) TBLPROPERTIES ('statsCol' = 'event_id')")
      s.sql(s"INSERT INTO $tbl SELECT * FROM src_sqlmrg_events")
      s.sql(s"""MERGE INTO $tbl t USING src_sqlmrg_src s
        |ON t.event_id = s.event_id
        |WHEN MATCHED AND s.action = 'd' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET value = s.value
        |WHEN NOT MATCHED THEN
        |  INSERT (event_id, event_type, value)
        |  VALUES (s.event_id, s.event_type, s.value)""".stripMargin)
      s.sql(s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |   AS sum_value
        |FROM $tbl GROUP BY event_type ORDER BY event_type"""
        .stripMargin)
    }),

    "src_dv_delete" -> ((s, dir) => {
      // MERGE-ON-READ deletes (deletion vectors): scattered point
      // deletes attach (file, position) sidecars — ZERO data bytes
      // rewritten (the live segment set is pinned unchanged) — and
      // every read reconciles; a second overlapping delete merges
      // vectors without double-reporting. The oracle recomputes the
      // remainder on the source rows.
      val ev = events(s, dir).select(col("event_id"),
        col("event_type"), col("value"))
      val root = java.nio.file.Files
        .createTempDirectory("graft-dv").toString + "/tbl"
      val store = new graft.catalog.LogStore(s, root,
        statsCol = Some("event_id"))
      store.append(ev.where(col("event_id") < 500))
      store.append(ev.where(col("event_id") >= 500))
      val segs0 = store.liveSegmentInfos().map(_.name).toSet
      // scattered across both segments — the copy-on-write worst case
      val r1 = store.deleteWhereDV("event_id % 97 = 3")
      // a clustered range — stats-pruned to ONE candidate segment
      val r2 = store.deleteRangeDV("event_id", "100", "109")
      val noRewrite =
        store.liveSegmentInfos().map(_.name).toSet == segs0 &&
        r1.touched >= 1 && r2.touched == 1 && r2.live == 2
      store.read()
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .withColumn("no_rewrite", lit(noRewrite))
        .orderBy("event_type")
    }),

    "src_sql_maintenance" -> ((s, dir) => {
      // maintenance with ZERO Scala: two curve-oblivious SQL inserts
      // (each spanning the whole key domain), then CALL
      // graft.system.optimize re-clusters via SQL — after it, a 10%
      // range probe must open 1 of 4 segments (pinned), and the
      // aggregate equals the source's. CALL vacuum + checkpoint ride
      // along to prove the whole weekly command set is SQL-callable.
      val cat = "graftsql"
      if (!s.conf.getAll.contains(s"spark.sql.catalog.$cat")) {
        val r0 = java.nio.file.Files
          .createTempDirectory("graft-sqlcat").toString
        s.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.GraftLogCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", r0)
      }
      val short = s"mnt_${java.util.UUID.randomUUID().toString.take(8)}"
      val tbl = s"$cat.bench.$short"
      events(s, dir).select(col("event_id"), col("event_type"),
        col("value")).createOrReplaceTempView("src_sqlmnt_events")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.bench")
      s.sql(s"CREATE TABLE $tbl (event_id BIGINT, event_type STRING, " +
        "value DOUBLE) TBLPROPERTIES ('statsCol' = 'event_id')")
      s.sql(s"INSERT INTO $tbl SELECT * FROM src_sqlmnt_events " +
        "WHERE event_id % 2 = 0")
      s.sql(s"INSERT INTO $tbl SELECT * FROM src_sqlmnt_events " +
        "WHERE event_id % 2 = 1")
      s.sql(s"CALL $cat.system.optimize(`table` => 'bench.$short', " +
        "target_segments => 4, cluster_by => 'event_id')")
      s.sql(s"CALL $cat.system.vacuum(`table` => 'bench.$short', " +
        "retain_last => 1, orphan_min_age_ms => 0)")
      s.sql(s"CALL $cat.system.checkpoint(`table` => 'bench.$short')")
      val store = graft.catalog.LogStore.configured(s,
        s"${s.conf.get(s"spark.sql.catalog.$cat.root")}/bench/$short")
      val (_, scanned, live) = store.readRangeOn("event_id", "0", "99")
      s.sql(s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |   AS sum_value
        |FROM $tbl GROUP BY event_type ORDER BY event_type"""
        .stripMargin)
        // boundary sampling may split the probe across 2 segments
        .withColumn("sql_optimize_prunes", lit(scanned <= 2 && live == 4))
    }),

    "src_sql_evolve" -> ((s, dir) => {
      // ALTER TABLE ADD COLUMN as a METADATA-ONLY schema commit: the
      // pre-evolution insert carries (event_id, event_type) only;
      // ALTER adds `value` with ZERO data bytes (the live segment set
      // is pinned unchanged); the post-evolution insert carries it.
      // Old rows read null in the new column — the aggregate's
      // sum_value therefore counts only the post-evolution slice —
      // and time travel to the pre-ALTER version still presents the
      // 2-column shape (pinned). The oracle recomputes the final
      // state on the source rows.
      val cat = "graftsql"
      if (!s.conf.getAll.contains(s"spark.sql.catalog.$cat")) {
        val r0 = java.nio.file.Files
          .createTempDirectory("graft-sqlcat").toString
        s.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.GraftLogCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", r0)
      }
      val short = s"evo_${java.util.UUID.randomUUID().toString.take(8)}"
      val tbl = s"$cat.bench.$short"
      events(s, dir).select(col("event_id"), col("event_type"),
        col("value")).createOrReplaceTempView("src_sqlevo_events")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.bench")
      s.sql(s"CREATE TABLE $tbl (event_id BIGINT, event_type STRING) " +
        "TBLPROPERTIES ('statsCol' = 'event_id')")
      s.sql(s"INSERT INTO $tbl SELECT event_id, event_type " +
        "FROM src_sqlevo_events WHERE event_id < 500")
      val store = graft.catalog.LogStore.configured(s,
        s"${s.conf.get(s"spark.sql.catalog.$cat.root")}/bench/$short")
      val vOld = store.latestVersion()
      val segsBefore = store.liveSegmentInfos().map(_.name).toSet
      s.sql(s"ALTER TABLE $tbl ADD COLUMN value DOUBLE")
      val metadataOnly =
        store.liveSegmentInfos().map(_.name).toSet == segsBefore &&
        store.latestVersion() == vOld + 1
      s.sql(s"INSERT INTO $tbl SELECT event_id, event_type, value " +
        "FROM src_sqlevo_events WHERE event_id >= 500")
      val oldShape = s.sql(
        s"SELECT * FROM $tbl VERSION AS OF $vOld").columns.toSeq ==
        Seq("event_id", "event_type")
      s.sql(s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(count(value) AS BIGINT) AS n_valued,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |   AS sum_value
        |FROM $tbl GROUP BY event_type ORDER BY event_type"""
        .stripMargin)
        .withColumn("evolve_pins", lit(metadataOnly && oldShape))
    }),

    "src_sql_overwrite" -> ((s, dir) => {
      // INSERT OVERWRITE is ONE atomic replace commit: the new
      // content in, every prior live segment out, at readVersion+1
      // (never truncate-then-append with a window in between); the
      // prior snapshot stays time-travelable and the change feed is
      // the honest diff (old rows as deletes, new as inserts). The
      // oracle recomputes the overwritten content from the source.
      val cat = "graftsql"
      if (!s.conf.getAll.contains(s"spark.sql.catalog.$cat")) {
        val r0 = java.nio.file.Files
          .createTempDirectory("graft-sqlcat").toString
        s.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.GraftLogCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", r0)
      }
      val short = s"ovw_${java.util.UUID.randomUUID().toString.take(8)}"
      val tbl = s"$cat.bench.$short"
      events(s, dir).select(col("event_id"), col("event_type"),
        col("value")).createOrReplaceTempView("src_sqlovw_events")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.bench")
      s.sql(s"CREATE TABLE $tbl (event_id BIGINT, event_type STRING, " +
        "value DOUBLE) TBLPROPERTIES ('statsCol' = 'event_id')")
      s.sql(s"INSERT INTO $tbl SELECT * FROM src_sqlovw_events " +
        "WHERE event_id % 2 = 0")
      val store = graft.catalog.LogStore.configured(s,
        s"${s.conf.get(s"spark.sql.catalog.$cat.root")}/bench/$short")
      val vBefore = store.latestVersion()
      val nEven = store.read().count()
      s.sql(s"INSERT OVERWRITE $tbl SELECT * FROM src_sqlovw_events " +
        "WHERE event_id % 2 = 1")
      val oneCommit = store.latestVersion() == vBefore + 1
      val travels = store.read(vBefore).count() == nEven
      val feed = store.readChanges(vBefore + 1)
        .groupBy(col("_change_type")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val honest = feed.getOrElse("delete", 0L) == nEven &&
        feed.getOrElse("insert", 0L) == store.read().count()
      s.sql(s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |   AS sum_value
        |FROM $tbl GROUP BY event_type ORDER BY event_type"""
        .stripMargin)
        .withColumn("overwrite_pins",
          lit(oneCommit && travels && honest))
    }),

    "src_sql_setprops" -> ((s, dir) => {
      // config AFTER the fact: a table created with NO skipping
      // config gains statsCol via ALTER TABLE SET TBLPROPERTIES —
      // the next insert carries stats and a narrow probe prunes it
      // while the pre-config segment takes the always-scan safe
      // default; REPLACING statsCol then clears the old positional
      // bounds in the same metadata-only commit (probing the new
      // column against the old column's numbers would mis-prune).
      // The aggregate equals the source's throughout.
      val cat = "graftsql"
      if (!s.conf.getAll.contains(s"spark.sql.catalog.$cat")) {
        val r0 = java.nio.file.Files
          .createTempDirectory("graft-sqlcat").toString
        s.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.GraftLogCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", r0)
      }
      val short = s"prp_${java.util.UUID.randomUUID().toString.take(8)}"
      val tbl = s"$cat.bench.$short"
      events(s, dir).select(col("event_id"), col("event_type"),
        col("value")).createOrReplaceTempView("src_sqlprp_events")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.bench")
      s.sql(s"CREATE TABLE $tbl (event_id BIGINT, event_type STRING, " +
        "value DOUBLE)")
      s.sql(s"INSERT INTO $tbl SELECT * FROM src_sqlprp_events " +
        "WHERE event_id < 500")
      s.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES " +
        "('statsCol' = 'event_id')")
      s.sql(s"INSERT INTO $tbl SELECT * FROM src_sqlprp_events " +
        "WHERE event_id >= 500")
      val dirT = s"${s.conf.get(s"spark.sql.catalog.$cat.root")}" +
        s"/bench/$short"
      val st1 = graft.catalog.LogStore.configured(s, dirT)
      val (_, scanned, live) = st1.readRangeOn("event_id", "0", "100")
      val prunes = live == 2 && scanned == 1
      s.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES " +
        "('statsCol' = 'value')")
      val cleared = graft.catalog.LogStore.configured(s, dirT)
        .liveSegmentInfos().forall(_.min.isEmpty)
      s.sql(s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |   AS sum_value
        |FROM $tbl GROUP BY event_type ORDER BY event_type"""
        .stripMargin)
        .withColumn("setprops_pins", lit(prunes && cleared))
    }),

    "src_sql_rename" -> ((s, dir) => {
      // ALTER TABLE RENAME COLUMN via column mapping, end-to-end
      // through pure SQL: a table filled under the OLD name, renamed
      // (ONE metadata commit, zero new segments), then filled under
      // the NEW name — both halves read as one column, time travel
      // AS OF the pre-rename version still presents the old name,
      // and the final aggregate equals the source recomputation.
      val cat = "graftsql"
      if (!s.conf.getAll.contains(s"spark.sql.catalog.$cat")) {
        val r0 = java.nio.file.Files
          .createTempDirectory("graft-sqlcat").toString
        s.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.GraftLogCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", r0)
      }
      val short = s"rn_${java.util.UUID.randomUUID().toString.take(8)}"
      val tbl = s"$cat.bench.$short"
      val evCached = events(s, dir).where(col("event_id") < 1000)
        .select(col("event_id"), col("event_type"), col("value"))
        .cache()
      evCached.createOrReplaceTempView("src_rename_events")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.bench")
      s.sql(s"CREATE TABLE $tbl (event_id BIGINT, etype STRING, " +
        "value DOUBLE) TBLPROPERTIES ('statsCol' = 'event_id')")
      s.sql(s"INSERT INTO $tbl SELECT * FROM src_rename_events " +
        "WHERE event_id < 500")
      val dirT = s"${s.conf.get(s"spark.sql.catalog.$cat.root")}" +
        s"/bench/$short"
      val st = graft.catalog.LogStore.configured(s, dirT)
      val vBefore = st.latestVersion()
      val segsBefore = st.liveSegmentInfos().map(_.name).toSet
      s.sql(s"ALTER TABLE $tbl RENAME COLUMN etype TO kind")
      val metadataOnly = st.latestVersion() == vBefore + 1 &&
        st.liveSegmentInfos().map(_.name).toSet == segsBefore
      s.sql(s"INSERT INTO $tbl SELECT * FROM src_rename_events " +
        "WHERE event_id >= 500")
      evCached.unpersist() // last consumer done — never outlive the query
      val oldShape = s.sql(
          s"SELECT * FROM $tbl VERSION AS OF $vBefore")
        .columns.toSeq == Seq("event_id", "etype", "value")
      val bothHalves = s.sql(s"SELECT count(*) FROM $tbl " +
        "WHERE kind IS NOT NULL").head().getLong(0) ==
        s.sql(s"SELECT count(*) FROM $tbl").head().getLong(0)
      val pins = metadataOnly && oldShape && bothHalves
      s.sql(s"""SELECT kind, CAST(count(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |   AS sum_value
        |FROM $tbl GROUP BY kind ORDER BY kind""".stripMargin)
        .withColumn("rename_pins", lit(pins))
    }),

    "src_sql_widen" -> ((s, dir) => {
      // ALTER COLUMN TYPE widening end-to-end through pure SQL: a
      // table filled NARROW (INT id, FLOAT score), widened to
      // BIGINT/DOUBLE in two metadata-only commits (zero new
      // segments), then filled with WIDE values past Int range — old
      // int32/float bytes up-cast at scan time, time travel AS OF the
      // pre-widen version presents the narrow types, and bound
      // pruning on the WIDENED stats column still prunes (bounds
      // recorded under INT spellings, probed as LONG — the BigDecimal
      // compare). The aggregate equals the source recomputation.
      val cat = "graftsql"
      if (!s.conf.getAll.contains(s"spark.sql.catalog.$cat")) {
        val r0 = java.nio.file.Files
          .createTempDirectory("graft-sqlcat").toString
        s.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.GraftLogCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", r0)
      }
      val short = s"wd_${java.util.UUID.randomUUID().toString.take(8)}"
      val tbl = s"$cat.bench.$short"
      val evCached = events(s, dir).where(col("event_id") < 1000)
        .select(col("event_id"), col("value")).cache()
      evCached.createOrReplaceTempView("src_widen_events")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.bench")
      s.sql(s"CREATE TABLE $tbl (eid INT, score FLOAT) " +
        "TBLPROPERTIES ('statsCol' = 'eid')")
      s.sql(s"INSERT INTO $tbl SELECT CAST(event_id AS INT), " +
        "CAST(value AS FLOAT) FROM src_widen_events WHERE event_id < 500")
      val dirT = s"${s.conf.get(s"spark.sql.catalog.$cat.root")}" +
        s"/bench/$short"
      val st = graft.catalog.LogStore.configured(s, dirT)
      val vNarrow = st.latestVersion()
      val segsBefore = st.liveSegmentInfos().map(_.name).toSet
      s.sql(s"ALTER TABLE $tbl ALTER COLUMN eid TYPE BIGINT")
      s.sql(s"ALTER TABLE $tbl ALTER COLUMN score TYPE DOUBLE")
      val metadataOnly = st.latestVersion() == vNarrow + 2 &&
        st.liveSegmentInfos().map(_.name).toSet == segsBefore
      // wide rows land past Int range — only a genuinely LONG column
      // can hold them
      s.sql(s"INSERT INTO $tbl SELECT CAST(event_id + 3000000000 " +
        "AS BIGINT), CAST(value AS DOUBLE) FROM src_widen_events " +
        "WHERE event_id >= 500")
      evCached.unpersist() // last consumer done — never outlive the query
      val oldShape = s.sql(s"SELECT * FROM $tbl VERSION AS OF $vNarrow")
        .schema.fields.map(f => f.dataType.simpleString).toSeq ==
        Seq("int", "float")
      val newShape = s.table(tbl).schema.fields
        .map(_.dataType.simpleString).toSeq == Seq("bigint", "double")
      val (_, scanned, live) = st.readRangeOn("eid", "100", "200")
      val prunes = live == 2 && scanned == 1
      val pins = metadataOnly && oldShape && newShape && prunes
      s.sql(s"""SELECT eid % 10 AS g, CAST(count(*) AS BIGINT) AS n,
        | CAST(SUM(eid) AS BIGINT) AS sum_eid,
        | CAST(SUM(CAST(score AS DECIMAL(18,4))) AS DOUBLE)
        |   AS sum_score
        |FROM $tbl GROUP BY eid % 10 ORDER BY g""".stripMargin)
        .withColumn("widen_pins", lit(pins))
    }),

    "src_ckpt_shard" -> ((s, dir) => {
      // MULTI-PART checkpoint end-to-end: 8 range-disjoint appends,
      // a sharded checkpoint (threshold 2 → 4 part files + Bloom
      // sidecars + a sub-KB manifest), then the covered version
      // files are DESTROYED — everything below must resolve from the
      // shard set alone. Pins: the sharded layout exists, a narrow
      // range probe stats-prunes 1-of-8 WITHOUT touching a sidecar,
      // and a Bloom point lookup (which does fetch sidecars) matches
      // the full scan. The aggregate equals the source's.
      // cache the ≤1000-row slice: 8 per-range appends otherwise
      // re-scan the events parquet 8 times for 125 rows each
      val ev = events(s, dir).where(col("event_id") < 1000)
        .select(col("event_id"), col("event_type"), col("value"))
        .cache()
      val root = java.nio.file.Files
        .createTempDirectory("graft-ckshard").toString + "/tbl"
      val store = new graft.catalog.LogStore(s, root,
        statsCol = Some("event_id"), bloomCol = Some("event_type"),
        checkpointInterval = 1000, checkpointShardRows = 2)
      (0 until 8).foreach(i => store.append(
        ev.where(col("event_id") >= i * 125 &&
          col("event_id") < (i + 1) * 125)))
      store.checkpoint()
      val latest = store.latestVersion()
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      (0L until latest).foreach(v => fs.delete(
        new org.apache.hadoop.fs.Path(f"$root/_log/$v%08d.json"),
        false))
      val files = fs.listStatus(
          new org.apache.hadoop.fs.Path(s"$root/_log"))
        .map(_.getPath.getName).toSet
      val layout = files.exists(_.contains(".checkpoint.part-")) &&
        files.exists(_.contains(".checkpoint.bloom-")) &&
        fs.getFileStatus(new org.apache.hadoop.fs.Path(
          f"$root/_log/$latest%08d.checkpoint")).getLen < 1024
      val fresh = graft.catalog.LogStore.configured(s, root)
      val (_, scanned, live) = fresh.readRangeOn("event_id",
        "130", "200")
      val typ = ev.select("event_type").orderBy("event_type")
        .limit(1).collect().head.getString(0)
      val (lk, _, _) = fresh.pointLookup(typ)
      ev.unpersist() // last consumer done — never outlive the query
      val lkOk = lk.count() ==
        fresh.read().where(col("event_type") === typ).count()
      val pins = layout && live == 8 && scanned == 1 && lkOk
      fresh.read()
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .withColumn("ckpt_shard_pins", lit(pins))
        .orderBy("event_type")
    }),

    "src_bloom_multi" -> ((s, dir) => {
      // MULTI-COLUMN Bloom filters — the LLM-pipeline table shape
      // (two high-cardinality keys, doc_id + url_hash): the primary
      // bloomCol and a name-keyed bloomCols member each carry their
      // own per-segment filter and point lookups on EITHER prune
      // independently. Pins: the doc probe opens 1 of 4 segments,
      // the url probe opens only its 2 matching segments, and after
      // a bloomBits change the stale hexes are CLEARED (re-probe
      // scans everything yet stays exact). The result is the two
      // probes' rows — value-checked against the oracle.
      val ev = events(s, dir).where(col("event_id") < 2000)
        .select(col("event_id"),
          concat(lit("doc-"), col("event_id")).as("doc_id"),
          concat(lit("url-"), pmod(col("event_id"), lit(997)))
            .as("url_hash"),
          col("value"))
        .cache()
      val root = java.nio.file.Files
        .createTempDirectory("graft-bloomx").toString + "/tbl"
      val store = new graft.catalog.LogStore(s, root,
        statsCol = Some("event_id"), bloomCol = Some("doc_id"),
        bloomCols = Seq("url_hash"))
      (0 until 4).foreach(i => store.append(
        ev.where(col("event_id") >= i * 500 &&
          col("event_id") < (i + 1) * 500)))
      ev.unpersist() // last consumer done — never outlive the query
      val (lk1, o1, l1) = store.pointLookup("doc-123")
      val (lk2, o2, l2) = store.pointLookupOn("url_hash", "url-123")
      val primaryPrunes = l1 == 4 && o1 == 1
      val extraPrunes = l2 == 4 && o2 <= 2
      // bloomBits change → every hex (primary AND name-keyed) is
      // stale: cleared in the same metadata commit, never mis-probed
      store.setProperties(Map("bloomBits" -> "8192"))
      val st2 = graft.catalog.LogStore.configured(s, root)
      val cleared = st2.liveSegmentInfos(blooms = true)
        .forall(sg => sg.bloom.isEmpty && sg.bxs.isEmpty)
      val (lk3, o3, _) = st2.pointLookupOn("url_hash", "url-123")
      val rescans = o3 == 4 && lk3.count() == lk2.count()
      val pins = primaryPrunes && extraPrunes && cleared && rescans
      lk1.select(lit("doc-123").as("probe"), col("event_id"),
          col("value"))
        .unionByName(lk2.select(lit("url-123").as("probe"),
          col("event_id"), col("value")))
        .withColumn("bloom_multi_pins", lit(pins))
        .orderBy("probe", "event_id")
    }),

    "src_string_stats" -> ((s, dir) => {
      // STRING segment stats end-to-end through pure SQL: a table
      // whose statsCol is a zero-padded STRING key (orders like the
      // int it encodes), four disjoint-range inserts, then a
      // string-keyed UPDATE. Pins: the UPDATE's pushed string
      // equality statically pruned the rewrite to ONE segment (the
      // other three carried by name), and a point readRange probe
      // opens 1 of 4 files. The final aggregate equals the oracle's
      // CASE-rewritten computation exactly.
      val cat = "graftsql"
      if (!s.conf.getAll.contains(s"spark.sql.catalog.$cat")) {
        val r0 = java.nio.file.Files
          .createTempDirectory("graft-sqlcat").toString
        s.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.GraftLogCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", r0)
      }
      val short = s"str_${java.util.UUID.randomUUID().toString.take(8)}"
      val tbl = s"$cat.bench.$short"
      // cached: four range INSERT ... SELECTs re-read this ≤1000-row
      // slice, not the events parquet
      val evCached = events(s, dir)
        .where(col("event_id") < 1000)
        .select(lpad(col("event_id").cast("string"), 8, "0").as("skey"),
          col("event_type"), col("value"))
        .cache()
      evCached.createOrReplaceTempView("src_strstats_events")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.bench")
      s.sql(s"CREATE TABLE $tbl (skey STRING, event_type STRING, " +
        "value DOUBLE) TBLPROPERTIES ('statsCol' = 'skey')")
      Seq(("00000000", "00000250"), ("00000250", "00000500"),
        ("00000500", "00000750"), ("00000750", "00001000")).foreach {
        case (lo, hi) => s.sql(s"INSERT INTO $tbl SELECT * FROM " +
          s"src_strstats_events WHERE skey >= '$lo' AND skey < '$hi'")
      }
      evCached.unpersist() // last consumer done — never outlive the query
      val dirT = s"${s.conf.get(s"spark.sql.catalog.$cat.root")}" +
        s"/bench/$short"
      val st = graft.catalog.LogStore.configured(s, dirT)
      val before = st.liveSegmentInfos().map(_.name).toSet
      s.sql(s"UPDATE $tbl SET value = value * CAST(2.0 AS DOUBLE) " +
        "WHERE skey = '00000123'")
      val after = st.liveSegmentInfos().map(_.name).toSet
      val rewroteOne =
        (before -- after).size == 1 && (after -- before).size == 1
      val (_, opened, live) = st.readRangeOn("skey",
        "00000123", "00000123")
      val pins = rewroteOne && live == 4 && opened == 1
      s.sql(s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |   AS sum_value
        |FROM $tbl GROUP BY event_type ORDER BY event_type"""
        .stripMargin)
        .withColumn("string_stats_pins", lit(pins))
    }),

    "src_log_trim" -> ((s, dir) => {
      // BOUNDED _log DIRECTORY: 8 streaming-style commits age the log
      // (checkpoint at v4); vacuum publishes the horizon (v6),
      // reclaims nothing data-side (every segment is live) but TRIMS
      // the four version files behind the horizon's checkpoint
      // (v0-v3 < v4 — the checkpoint itself stays, it seeds replay).
      // Snapshot content and time travel at the horizon are unchanged
      // (pinned), reads behind it refuse loudly (pinned), and the
      // aggregate equals the source's.
      val ev = events(s, dir).select(col("event_id"),
        col("event_type"), col("value"))
      val root = java.nio.file.Files
        .createTempDirectory("graft-trim").toString + "/tbl"
      val store = new graft.catalog.LogStore(s, root,
        checkpointInterval = 4)
      (0 until 8).foreach(i =>
        store.append(ev.where(col("event_id") % 8 === i)))
      val res = store.vacuum(retainLast = 2, orphanMinAgeMs = 0L)
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      val remaining = fs.listStatus(
          new org.apache.hadoop.fs.Path(s"$root/_log"))
        .map(_.getPath.getName).filter(_.endsWith(".json"))
        .map(_.stripSuffix(".json").toLong)
      val horizonReads =
        store.read(6).count() == ev.where(col("event_id") % 8 < 7)
          .count()
      val behindRefuses =
        try { store.read(2).count(); false }
        catch { case _: IllegalStateException => true }
      val pins = res.trimmedLogFiles == 4 &&
        remaining.min == 4L && horizonReads && behindRefuses
      store.read()
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .withColumn("log_trim_pins", lit(pins))
        .orderBy("event_type")
    }),

    "src_clustered_write" -> ((s, dir) => {
      // clustered INGEST: the DSv2 sink with clusterBy asks Spark to
      // range-distribute + sort before the writers
      // (RequiresDistributionAndOrdering) and publishes each task
      // file as its own segment — per-segment bounds are tight
      // disjoint ranges, so a narrow probe opens 1 of 8 segments
      // FROM THE FIRST WRITE, no OPTIMIZE pass (pinned as a
      // literal). The filtered aggregate must equal the source's.
      val ev = events(s, dir).select(col("event_id"),
        col("event_type"), col("value"))
      val root = java.nio.file.Files
        .createTempDirectory("graft-clw").toString + "/tbl"
      new graft.catalog.LogStore(s, root,
        statsCol = Some("event_id")).create(ev.schema)
      ev.write.format("graft-log").option("path", root)
        .option("clusterBy", "event_id")
        .option("clusterPartitions", "8")
        .mode("append").save()
      val reader = graft.catalog.LogStore.configured(s, root)
      val (_, scanned, live) =
        reader.readRangeOn("event_id", "300", "420")
      s.read.format("graft-log").option("path", root)
        .option("mode", "snapshot").load()
        .where(col("event_id").between(300, 420))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .withColumn("first_write_prunes",
          // the range partitioner SAMPLES its boundaries, so one may
          // land inside the probe window: 1 segment in the common
          // case, 2 at a boundary — either way 6+ of 8 pruned
          lit(scanned <= 2 && live == 8))
        .orderBy("event_type")
    }),

    "src_bucketed_join" -> ((s, dir) => {
      // the storage-layout half of the 100 TB join strategy, end to
      // end: orders and lineitem co-bucketed on the order key at write
      // time, then joined + aggregated ON that key — at scale the big
      // join and the per-order agg both run with zero hash exchanges
      // (BucketedStoreSpec asserts the no-shuffle property; this query
      // oracle-checks the results ride along unchanged)
      val store = new graft.catalog.BucketedStore(s)
      val tmp = "/tmp/graft_src/bucketed"
      // two independent bucketed table writes — overlap them (§2.6)
      par2(
        store.writeBucketedAt(
          t(s, dir, "orders").select("o_orderkey", "o_totalprice"),
          "src_bj_orders", "o_orderkey", 8, s"$tmp/orders"),
        store.writeBucketedAt(
          t(s, dir, "lineitem")
            .select("l_orderkey", "l_quantity", "l_extendedprice"),
          "src_bj_lineitem", "l_orderkey", 8, s"$tmp/lineitem"))
      store.table("src_bj_lineitem")
        .join(store.table("src_bj_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_lines"),
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"),
          max(col("o_totalprice")).as("total_price"))
        .where(col("n_lines") >= 5)
        .orderBy("o_orderkey")
    }),

    // ---- typed Aggregator: map-side partial top-k (§2.10) ----
    "agg_topk_per_type" -> ((s, dir) =>
      TopK.topKByCount(events(s, dir), "event_type", "user_id", k = 3)
        .orderBy("event_type", "rank")),

    // ---- TPC-H Q10 adaptation: returned-item revenue per customer ----
    "q10_returned_revenue" -> ((s, dir) => {
      val o = t(s, dir, "orders").where(
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      val l = t(s, dir, "lineitem").where(col("l_returnflag") === "R")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("n_name"))
        .agg(dsumExpr(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // ---- TPC-H Q12 adaptation: late shipments by priority class ----
    "q12_late_shipments" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .where(col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .groupBy(year(col("l_shipdate")).as("ship_year"))
        .agg(
          count(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1))
            .as("high_line_count"),
          count(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1))
            .as("low_line_count"))
        .orderBy("ship_year")),

    // ---- TPC-H Q19 adaptation: disjunctive multi-branch predicate ----
    "q19_branch_revenue" -> ((s, dir) => {
      // three OR'd (brand, size-range, quantity-range) branches — the
      // classic test that the optimizer keeps a broadcast join + one
      // pass despite disjunctive predicates (adapted to the synthetic
      // schema: no container/shipmode columns)
      val branches =
        (col("p_brand") === "Brand#13" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 20)) ||
        (col("p_brand") === "Brand#19" && col("p_size").between(10, 30) &&
          col("l_quantity").between(10, 35)) ||
        (col("p_brand") === "Brand#5" && col("p_size").between(20, 50) &&
          col("l_quantity").between(20, 50))
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .where(branches)
        .agg(count(lit(1)).as("n"),
          dsumExpr(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
    }),

    // ---- TPC-H Q2 adaptation: cheapest shipment per part. The synthetic
    // schema has no partsupp, so lineitem stands in as the supplier-price
    // relation; two partial aggs + a broadcast part filter replace the
    // correlated-min subquery ----
    "q2_cheapest_shipment" -> ((s, dir) => {
      val parts = t(s, dir, "part")
        .where(col("p_type") === "STANDARD" && col("p_size") <= 10)
        .select(col("p_partkey"), col("p_name"))
      // part filter FIRST: the broadcast semi-join keeps ~3% of lineitem
      // before any aggregation, so both rollups and the shuffle run on
      // the filtered detail — per-part results are unchanged (the filter
      // is a whole-part predicate)
      val li = t(s, dir, "lineitem")
        .join(broadcast(parts.select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"), "left_semi")
      val px = li.groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice")).as("mn"))
      val best = px.groupBy(col("l_partkey").as("bk"))
        .agg(min(col("mn")).as("bmn"))
      px.join(best, col("l_partkey") === col("bk") && col("mn") === col("bmn"))
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_partkey"), col("p_name"))
        .agg(min(col("l_suppkey")).as("cheapest_supp"),
          min(col("mn")).as("min_price"))
        .orderBy("p_partkey")
    }),

    // ---- TPC-H Q4 adaptation: orders with a late line (semi-join; the
    // schema has no commit/receipt dates, so "late" = shipped >30 days
    // after order date) ----
    "q4_priority_late" -> ((s, dir) => {
      val o = t(s, dir, "orders").where(
        col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
      o.join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate")),
          col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    // ---- TPC-H Q7: bidirectional nation-pair trade volume by year ----
    "q7_nation_volume" -> ((s, dir) => {
      val n = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      val sup = t(s, dir, "supplier")
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cust = t(s, dir, "customer")
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .where((col("supp_nation") === "NATION_1" &&
            col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" &&
            col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(dsumExpr(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // ---- TPC-H Q8: NATION_5's market share inside ASIA's ECONOMY
    // segment by order year (conditional-sum / sum ratio) ----
    "q8_market_share" -> ((s, dir) => {
      val n = t(s, dir, "nation")
      val custAsia = t(s, dir, "customer")
        .join(broadcast(n.join(
            broadcast(t(s, dir, "region").where(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"))
      val sup = t(s, dir, "supplier")
        .join(broadcast(n.select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part").where(col("p_type") === "ECONOMY")
          .select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"), "left_semi")
        .join(t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(custAsia, col("o_custkey") === col("c_custkey"), "left_semi")
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg((dsumExpr(when(col("supp_nation") === "NATION_5", vol)
            .otherwise(lit(0.0))) / dsumExpr(vol)).as("mkt_share"))
        .orderBy("o_year")
    }),

    // ---- TPC-H Q9 adaptation: profit by supplier nation × order year
    // for a part-name family (no supplycost column → profit = revenue) ----
    "q9_profit_nation_year" -> ((s, dir) => {
      val sup = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")
          .where(col("p_name").contains("red")).select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"), "left_semi")
        .join(t(s, dir, "orders").select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).as("o_year"))
        .agg(dsumExpr(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    // ---- TPC-H Q11 adaptation: parts whose revenue through NATION_3
    // suppliers exceeds 0.1% of that channel's total (scalar-subquery
    // threshold; decimal partial sums keep the two aggregations exactly
    // consistent) ----
    "q11_part_concentration" -> ((s, dir) => {
      val supN3 = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
          .where(col("n_name") === "NATION_3")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      val li = t(s, dir, "lineitem")
        .join(broadcast(supN3), col("l_suppkey") === col("s_suppkey"),
          "left_semi")
        .select(col("l_partkey"), col("l_extendedprice"))
      val total = li.agg(dsumExpr(col("l_extendedprice")).as("tot"))
      li.groupBy(col("l_partkey"))
        .agg(dsumExpr(col("l_extendedprice")).as("value"))
        .join(broadcast(total))
        .where(col("value") > col("tot") * lit(0.001))
        .select(col("l_partkey"), col("value"))
        .orderBy(col("value").desc, col("l_partkey"))
    }),

    // ---- TPC-H Q13: customer order-count distribution (left join keeps
    // zero-order customers; count(col) skips the nulls they produce) ----
    "q13_order_distribution" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_custkey"))
        .join(t(s, dir, "orders")
          .where(col("o_orderpriority") =!= "5-LOW")
          .select(col("o_custkey"), col("o_orderkey")),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)),

    // ---- TPC-H Q14: promo revenue share for one month (single row) ----
    "q14_promo_revenue" -> ((s, dir) => {
      val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .join(broadcast(t(s, dir, "part").select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg((lit(100.0) * dsumExpr(when(col("p_type") === "PROMO", vol)
          .otherwise(lit(0.0))) / dsumExpr(vol)).as("promo_revenue"))
    }),

    // ---- TPC-H Q15: supplier(s) hitting the quarter's max revenue ----
    "q15_top_supplier" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(dsumExpr(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("total_revenue"))
      // equality on the max is exact: both sides of the comparison come
      // from the same decimal-accumulated value
      rev.join(broadcast(rev.agg(max(col("total_revenue")).as("mx"))),
          col("total_revenue") === col("mx"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy("s_suppkey")
    }),

    // ---- TPC-H Q16 adaptation: distinct shippers per (brand,type,size)
    // slice, lineitem standing in for partsupp ----
    "q16_brand_supplier_cnt" -> ((s, dir) =>
      t(s, dir, "lineitem").select("l_partkey", "l_suppkey")
        .join(broadcast(t(s, dir, "part")
          .where(col("p_brand") =!= "Brand#1" &&
            col("p_size").isin(1, 5, 9, 13))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))),

    // ---- TPC-H Q18: bulk orders (per-order quantity rollup feeding a
    // customer join; the heavy groupBy runs BEFORE the joins) ----
    "q18_bulk_customers" -> ((s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(dsum(col("l_quantity")).as("sum_qty"))
        .where(col("sum_qty") > 280)
      t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "customer").select("c_custkey", "c_name"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }),

    // ---- TPC-H Q20 adaptation: suppliers in a nation set that moved
    // real PROMO volume in 1996 (two stacked semi-joins) ----
    "q20_promo_shippers" -> ((s, dir) => {
      val promoQty = t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .join(broadcast(t(s, dir, "part").where(col("p_type") === "PROMO")
          .select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy(col("l_suppkey"))
        .agg(dsum(col("l_quantity")).as("qty"))
        .where(col("qty") > 100)
      t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
          .where(col("n_name").isin("NATION_7", "NATION_8", "NATION_9"))),
          col("s_nationkey") === col("n_nationkey"))
        .join(promoQty, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
        .orderBy("s_suppkey")
    }),

    // ---- TPC-H Q21 adaptation: suppliers who shipped last on finished
    // multi-supplier orders (no receipt/commit dates → "kept the order
    // waiting" = owns the order's max shipdate) ----
    "q21_last_shipper_wait" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").where(col("o_orderstatus") === "F")
          .select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_semi")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      val per = li.groupBy(col("l_orderkey").as("ok"))
        .agg(max(col("l_shipdate")).as("mx"),
          countDistinct(col("l_suppkey")).as("nsupp"))
        .where(col("nsupp") >= 2)
      li.join(per, col("l_orderkey") === col("ok") &&
          col("l_shipdate") === col("mx"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(countDistinct(col("l_orderkey")).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
    }),

    // ---- TPC-H Q22 adaptation: high-balance customers dormant since
    // 2000 (scalar avg threshold + anti-join), rolled up by nation ----
    "q22_dormant_value" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val avgBal = cust.where(col("c_acctbal") > 0)
        .agg((dsum(col("c_acctbal")) / count(lit(1))).as("ab"))
      cust.join(broadcast(avgBal))
        .where(col("c_acctbal") > col("ab"))
        .join(t(s, dir, "orders")
          .where(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
          .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal"))
          .as("totacctbal"))
        .orderBy("n_name")
    }),

    "agg_bool_suite" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(count(when(col("l_quantity") > 45, 1)).as("n_heavy"),
          bool_and(col("l_discount") <= 0.1).as("all_low_disc"),
          bool_or(col("l_tax") > 0.07).as("any_high_tax"),
          countDistinct(col("l_linestatus")).as("n_status"))
        .orderBy("l_returnflag")),

    // ---- multiset set-ops: EXCEPT ALL / INTERSECT ALL ----
    "setop_except_all" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.where(col("l_returnflag") === "A").select("l_orderkey")
        .exceptAll(li.where(col("l_returnflag") === "R")
          .select("l_orderkey"))
        .groupBy("l_orderkey").agg(count(lit(1)).as("n"))
        .orderBy("l_orderkey")
    }),

    "setop_intersect_all" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.where(col("l_returnflag") === "A").select("l_orderkey")
        .intersectAll(li.where(col("l_returnflag") === "R")
          .select("l_orderkey"))
        .groupBy("l_orderkey").agg(count(lit(1)).as("n"))
        .orderBy("l_orderkey")
    }),

    // ---- exact quantiles + exact-arithmetic moments ----
    "agg_exact_quantiles" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(percentile(col("l_quantity"), lit(0.5)).as("med"),
          percentile(col("l_quantity"), lit(0.9)).as("p90"))
        .orderBy("l_returnflag")),

    "agg_stats_exact" -> ((s, dir) =>
      // mean/variance from DECIMAL-exact sums, derived with a pinned
      // IEEE op order — deterministic under any aggregation order,
      // unlike the built-in stddev's streaming update formula
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          dsumExpr(col("l_quantity")).as("s"),
          dsumExpr(col("l_quantity") * col("l_quantity")).as("s2"))
        .select(col("l_returnflag"), col("n"), col("s"), col("s2"),
          (col("s") / col("n").cast("double")).as("mean"),
          ((col("s2") - (col("s") * col("s")) / col("n").cast("double"))
            / (col("n").cast("double") - lit(1.0))).as("var_"))
        .orderBy("l_returnflag")),

    // ---- higher-order functions over arrays (codegen-free lambdas) ----
    "x_hof_suite" -> ((s, dir) => {
      val toks = col("toks")
      t(s, dir, "documents")
        .select(col("doc_id"),
          split(trim(lower(col("text"))), "\\s+").as("toks"))
        .select(col("doc_id"),
          size(filter(toks, tk => length(tk) > 4)).cast("long").as("n_long"),
          exists(toks, tk => length(tk) > 7).as("any_xlong"),
          aggregate(toks, lit(0L),
            (acc, tk) => acc + length(tk).cast("long")).as("total_chars"),
          upper(element_at(toks, 1)).as("first_upper"),
          concat_ws("|",
            transform(slice(toks, 1, 3), tk => reverse(tk))).as("rev3"))
        .orderBy("doc_id")
    }),

    // ---- composite LLM-pipeline: dedup → quality → lang-ID in one plan ----
    "pipe_prepare_corpus" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val keepers = docs.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      // explode(array(…)) is a one-row Generate BARRIER: predicate
      // pushdown cannot substitute through generator output, so the
      // quality/langid filter evaluates against the materialized toks
      // column instead of re-inlining the tokenizer into the pushed
      // predicate (~16 split() evaluations per SCANNED row inside
      // interpreted HOF lambdas — measured 3.6 s → 1.9 s at sf0.1)
      docs.join(keepers, Seq("doc_id"), "left_semi")
        .withColumn("toks", explode(array(TextOps.tokens(col("text")))))
        .withColumn("quality",
          TextOps.qualityScoreFromTokens(col("text"), col("toks")))
        .withColumn("lang_pred", TextOps.langIdFromTokens(col("toks")))
        .where(col("quality") >= 0.5 && col("lang_pred") =!= "und")
        .select(col("doc_id"), col("lang_pred"),
          size(col("toks")).cast("long").as("n_tokens"), col("quality"))
        .orderBy("doc_id")
    }),

    // ---- Misra–Gries heavy hitters (mergeable O(k) sketch) over a
    // deterministically-skewed key: every 7th user folds into one hot
    // item, which then exceeds the n/(k+1) capture threshold ----
    "sketch_heavy_hitters" -> ((s, dir) =>
      Sketches.mgHeavyHitters(
          events(s, dir).select(
            when(col("user_id") % 7 === 0, lit(-1L))
              .otherwise(col("user_id")).as("item")),
          item = col("item"), k = 8)
        .orderBy("item")),

    // ---- Count-Min frequency sketch over event types ----
    "sketch_countmin" -> ((s, dir) => {
      val ev = events(s, dir)
      val counters = Sketches.countMin(ev,
        key = col("event_type"), d = 4, w = 256)
      val exact = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("exact_n"))
      val est = Sketches.countMinEstimate(counters,
        exact.select(col("event_type").as("key")), d = 4, w = 256)
      exact.join(est, col("event_type") === col("key"))
        .select(col("event_type"), col("exact_n"), col("cm_est"),
          (col("cm_est") >= col("exact_n")).as("no_underestimate"))
        .orderBy("event_type")
    }),

    // ---- mergeable KLL quantile sketch, bound-flag audited ----
    "sketch_kll_quantiles" -> ((s, dir) =>
      // the missing member of the sketch family (MG, CM, HLL →
      // quantiles): one typed mergeable aggregation per group, audit
      // emits exact rank-quantiles + the proven 2·L·n/cap rank band
      Sketches.kllQuantiles(t(s, dir, "lineitem"),
          groupCol = "l_returnflag", valueCol = "l_extendedprice",
          qs = Seq(0.5, 0.9), capacity = 1024)
        .orderBy("grp", "q")),

    // ---- Jaro-Winkler blocked matching over part names ----
    "er_jw_matches" -> ((s, dir) =>
      // composite (brand, size) blocks bound the candidate square
      // ~50x tighter than brand alone (the block-key choice IS the
      // scale knob); the native JW expression verifies pairs at
      // >= 0.9 — the name-typo regime where Levenshtein's unit costs
      // under-rank prefix matches
      RelationalOps.jaroBlockedMatches(
          t(s, dir, "part").withColumn("blk",
            concat_ws("|", col("p_brand"), col("p_size"))),
          idCol = "p_partkey", nameCol = "p_name",
          blockCol = "blk", threshold = 0.9)
        .orderBy("id_a", "id_b")),

    // ---- blocked fuzzy entity matching within nations ----
    "er_blocked_matches" -> ((s, dir) =>
      // deletion-neighborhood candidates (FastSS), exact verify —
      // identical output to the brute per-block scan, ~25× faster at
      // sf0.1 because only near-identical names ever meet the join
      RelationalOps.blockedFuzzyMatchesD1(t(s, dir, "customer"),
          idCol = "c_custkey", nameCol = "c_name",
          blockCol = "c_nationkey")
        .orderBy("id_a", "id_b")),

    // ---- SCD2 dimension-history build over the event log ----
    "scd2_user_state" -> ((s, dir) =>
      RelationalOps.scd2Intervals(
          events(s, dir).select(col("user_id"), col("ts"), col("event_type")),
          key = "user_id", ts = "ts", state = "event_type")
        .orderBy(col("user_id"), col("valid_from"), col("state"))),

    // ---- point-in-time join: facts against their SCD2 version ----
    "join_temporal_scd2" -> ((s, dir) => {
      // purchases enriched with the user-state version valid at
      // purchase time: SCD2 history (runs of non-purchase activity)
      // composed with the backward as-of join — the union+window
      // shape, so the whole temporal lookup is ONE shuffle on user_id,
      // not a range join against the version table
      val ev = events(s, dir).where(col("user_id").isNotNull)
      val dim = RelationalOps.scd2Intervals(
          ev.where(col("event_type") =!= "purchase")
            .select(col("user_id"), col("ts"), col("event_type")),
          key = "user_id", ts = "ts", state = "event_type")
        .select(col("user_id"), col("valid_from").as("ts"), col("state"))
      val facts = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      RelationalOps.asofBackward(facts, dim, key = "user_id",
          ts = "ts", pick = "state", outCol = "state_at_purchase")
        .orderBy("event_id")
    }),

    // ---- snapshot diff: derive a CDC stream from two full dumps ----
    // Two deterministic snapshots of `orders`: the old one misses every
    // 5th key, the new one misses every 7th and reprices every 3rd —
    // so the diff exercises all three ops plus the dropped-unchanged
    // bulk in one query.
    "snapshot_diff" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val oldSnap = orders.where(col("o_orderkey") % 5 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val newSnap = orders.where(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") + lit(10.0))
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      RelationalOps.snapshotDiff(oldSnap, newSnap,
          keys = Seq("o_orderkey"),
          compare = Seq("o_orderstatus", "o_totalprice"))
        .orderBy("o_orderkey")
    }),

    // ---- incremental aggregate maintenance from the CDC stream ----
    // The snapshot pair from `snapshot_diff`, plus status migration
    // (every 11th key moves to group 'X'), maintained incrementally:
    // base aggregate of the OLD snapshot + applyDiffToSumCount over
    // the diff ≡ full recompute of the NEW snapshot — which is exactly
    // what the oracle computes directly.
    // the fact⟕dim view under concurrent fact AND dim mutations,
    // maintained by delta-driven partial refresh: only affected keys
    // rebuild, the rest carries over — ≡ full recompute (the oracle)
    "incr_join_maintenance" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val aOld = orders.where(col("o_orderkey") % 5 =!= 0)
      val aNew = orders.where(col("o_orderkey") % 7 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 3 === 0,
            col("o_totalprice") + lit(10.0))
            .otherwise(col("o_totalprice")))
      val bOld = cust
      val bNew = cust.withColumn("c_mktsegment",
        when(col("c_custkey") % 13 === 0, lit("MOVED"))
          .otherwise(col("c_mktsegment")))
      val viewOld = aOld.join(bOld,
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("c_mktsegment"))
      val aDelta = RelationalOps.snapshotDiff(aOld, aNew,
        keys = Seq("o_orderkey"),
        compare = Seq("o_custkey", "o_totalprice"))
      val bDelta = RelationalOps.snapshotDiff(bOld, bNew,
        keys = Seq("c_custkey"), compare = Seq("c_mktsegment"))
      RelationalOps.maintainJoinView(viewOld, aNew, bNew, aDelta,
          bDelta, aKey = "o_orderkey", fkCol = "o_custkey",
          bKey = "c_custkey")
        .orderBy("o_orderkey")
    }),

    "incr_agg_maintenance" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val oldSnap = orders.where(col("o_orderkey") % 5 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val newSnap = orders.where(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 11 === 0, lit("X"))
            .otherwise(col("o_orderstatus")).as("o_orderstatus"),
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") + lit(10.0))
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      val base = oldSnap.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 4))).as("sm"))
      val diff = RelationalOps.snapshotDiff(oldSnap, newSnap,
        keys = Seq("o_orderkey"),
        compare = Seq("o_orderstatus", "o_totalprice"))
      RelationalOps.applyDiffToSumCount(base, diff,
          key = "o_orderstatus", value = "o_totalprice")
        .select(col("o_orderstatus"), col("cnt"),
          col("sm").cast("double").as("sm"))
        .orderBy("o_orderstatus")
    }),

    // ---- product analytics over the event log ----
    "analytics_cohort_retention" -> ((s, dir) =>
      AnalyticsOps.cohortRetention(events(s, dir))
        .orderBy("cohort_date", "day_offset")),

    "analytics_funnel" -> ((s, dir) =>
      AnalyticsOps.orderedFunnel(events(s, dir),
          stages = Seq("view", "click", "purchase"))
        .orderBy("stage")),

    "analytics_equidepth_hist" -> ((s, dir) =>
      AnalyticsOps.equiDepthHistogram(events(s, dir), "value", nBuckets = 8)
        .orderBy("bucket")),

    "text_top_terms" -> ((s, dir) =>
      AnalyticsOps.topTermsPerDoc(t(s, dir, "documents"), k = 3)
        .orderBy("doc_id", "rank")),

    "text_novelty" -> ((s, dir) =>
      TextOps.noveltyScores(t(s, dir, "documents"), w = 3)
        .orderBy("doc_id")),

    "text_lm_quality" -> ((s, dir) =>
      // model-based quality filtering (CCNet's signal) with the LM
      // replaced by the corpus's own bigram stats — exact-arithmetic,
      // so the score is oracle-hashable where a log-prob would not be
      TextOps.lmFamiliarity(t(s, dir, "documents"))
        .orderBy("doc_id")),

    "text_gopher_filters" -> ((s, dir) =>
      // rule-based quality filtering with per-rule audit booleans;
      // thresholds centered on this corpus's distribution so every
      // rule actually discriminates
      TextOps.gopherFilters(t(s, dir, "documents"))
        .orderBy("doc_id")),

    "analytics_skyline" -> ((s, dir) =>
      // Pareto frontier of (quantity, price) both minimized — the
      // cheapest-per-size-class frontier
      AnalyticsOps.skyline2D(t(s, dir, "lineitem"),
          xCol = "l_quantity", yCol = "l_extendedprice",
          bucketWidth = 10.0)
        .orderBy("x", "y")),

    "text_bm25" -> ((s, dir) =>
      AnalyticsOps.bm25TopDocs(t(s, dir, "documents"),
          queryTerms = Seq("hash", "scan", "filter"), k = 10)
        .orderBy("rank")),

    "agg_mode" -> ((s, dir) => {
      // exact mode per group with total tie-break (count desc, value
      // asc) — two cheap aggs, no value ever leaves its partition
      // until reduced to (group, value, count)
      import org.apache.spark.sql.expressions.Window
      val counts = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("n").desc, col("l_quantity").asc)
      counts.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
          col("n"))
        .orderBy("l_returnflag")
    }),

    "analytics_winsorize" -> ((s, dir) => {
      // outlier fences from exact interpolated percentiles; the
      // output reports bounds + clip counts (sums of clipped values
      // would re-round percentile doubles through decimal — the
      // computed-double parity hazard, see bivariateStats)
      val li = t(s, dir, "lineitem")
      val fences = li.groupBy(col("l_returnflag"))
        .agg(percentile(col("l_extendedprice"), lit(0.05)).as("p05"),
          percentile(col("l_extendedprice"), lit(0.95)).as("p95"))
      li.join(broadcast(fences), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(first(col("p05")).as("p05"), first(col("p95")).as("p95"),
          sum(when(col("l_extendedprice") < col("p05"), 1L)
            .otherwise(0L)).as("n_below"),
          sum(when(col("l_extendedprice") > col("p95"), 1L)
            .otherwise(0L)).as("n_above"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),

    "analytics_event_bigrams" -> ((s, dir) => {
      // frequent event-type transitions per user — the sequence-mining
      // primitive behind next-action models; one user-keyed window,
      // then a tiny (prev, next) aggregation
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .select(col("user_id"), col("event_type"),
          lag(col("event_type"), 1).over(w).as("prev_type"))
        .where(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("prev_type", "event_type")
    }),

    "x_levenshtein" -> ((s, dir) => {
      val n1 = t(s, dir, "nation").select(col("n_name").as("name_a"))
      val n2 = t(s, dir, "nation").select(col("n_name").as("name_b"))
      n1.crossJoin(broadcast(n2))
        .where(col("name_a") < col("name_b"))
        .select(col("name_a"), col("name_b"),
          levenshtein(col("name_a"), col("name_b")).as("dist"))
        .where(col("dist") <= 5)
        .orderBy("name_a", "name_b")
    }),

    "x_damerau_levenshtein" -> ((s, dir) => {
      // native full-DL expression vs built-in Levenshtein, on part
      // names plus their first-two-chars transposition — the input
      // class where the two metrics genuinely diverge (swap = 1 DL
      // edit but 2 Levenshtein edits)
      val p = t(s, dir, "part").where(col("p_partkey") <= 500)
        .select(col("p_partkey"), col("p_name"),
          concat(substring(col("p_name"), 2, 1),
            substring(col("p_name"), 1, 1),
            expr("substr(p_name, 3)")).as("swapped"))
      p.select(col("p_partkey"),
          graft.functions.EditDistanceFunctions
            .damerau_levenshtein(col("p_name"), col("swapped")).as("dl"),
          levenshtein(col("p_name"), col("swapped")).as("lev"),
          graft.functions.EditDistanceFunctions
            .damerau_levenshtein(col("p_name"), reverse(col("p_name")))
            .as("dl_rev"))
        .orderBy("p_partkey")
    }),

    "x_jaro_winkler" -> ((s, dir) => {
      // native Jaro–Winkler vs the same transposed/reversed probes as
      // the DL query — the record-linkage similarity Spark lacks; the
      // adjacent-swap inputs score high JW (prefix boost + windowed
      // match) where byte-equality or Levenshtein would reject
      val p = t(s, dir, "part").where(col("p_partkey") <= 500)
        .select(col("p_partkey"), col("p_name"),
          concat(substring(col("p_name"), 2, 1),
            substring(col("p_name"), 1, 1),
            expr("substr(p_name, 3)")).as("swapped"))
      p.select(col("p_partkey"),
          graft.functions.EditDistanceFunctions
            .jaro_winkler(col("p_name"), col("swapped")).as("jw_swap"),
          graft.functions.EditDistanceFunctions
            .jaro_winkler(col("p_name"), reverse(col("p_name")))
            .as("jw_rev"),
          graft.functions.EditDistanceFunctions
            .jaro_winkler(col("p_name"), col("p_name")).as("jw_self"))
        .orderBy("p_partkey")
    }),

    "analytics_bivariate_stats" -> ((s, dir) =>
      // deterministic Pearson/OLS (decimal power sums; Spark's corr()
      // is order-dependent float recursion — unusable for hash parity)
      AnalyticsOps.bivariateStats(t(s, dir, "lineitem"),
          groupCol = "l_returnflag", x = "l_quantity",
          y = "l_extendedprice")
        .orderBy("l_returnflag")),

    "analytics_spearman" -> ((s, dir) =>
      // rank (monotone) correlation on the same pair bivariate_stats
      // measures linearly — doubled average ranks keep ties integral
      AnalyticsOps.spearmanCorr(t(s, dir, "lineitem"),
          groupCol = "l_returnflag", x = "l_quantity",
          y = "l_extendedprice")
        .orderBy("l_returnflag")),

    "analytics_profile" -> ((s, dir) =>
      AnalyticsOps.profileNumeric(t(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("col_name")),

    // ---- containment dedup (asymmetric complement of Jaccard) ----
    "dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"), w = 3,
          threshold = 0.5)
        .orderBy("id_a", "id_b")),

    // ---- sliding-window document chunking ----
    "pipe_chunk_documents" -> ((s, dir) =>
      PipelineOps.chunkDocuments(t(s, dir, "documents"),
          chunkChars = 200, strideChars = 150)
        .orderBy("doc_id", "chunk_idx")),

    // ---- interval overlap join (binned theta→equi decomposition) ----
    // Two order-activity windows (disjoint customer segments, spans
    // 0–7 days) joined on overlap. The bin width (16 d) sits near the
    // span so candidate expansion stays ~2 rows per interval.
    "join_interval_overlap" -> ((s, dir) => {
      val o = t(s, dir, "orders").where(col("o_orderkey") <= 7500)
      def iv(m: Int) = o.where(col("o_custkey") % 10 === m)
        .select(col("o_orderkey").as("id"),
          datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
            .cast("long").as("s"),
          (datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
            .cast("long") + col("o_orderkey") % 8).as("e"))
      RelationalOps.intervalOverlapJoin(iv(0), iv(5), binWidth = 16)
        .orderBy("l_id", "r_id")
    }),

    // ---- PageRank (3 synchronous iterations, binary-tree edges) ----
    "graph_pagerank" -> ((s, dir) => {
      val edges = t(s, dir, "customer").where(col("c_custkey") > 1)
        .select(col("c_custkey").as("src"),
          expr("c_custkey div 2").as("dst"))
      GraphOps.pageRank(edges, iters = 3).orderBy("node")
    }),

    "graph_triangles" -> ((s, dir) => {
      // k→k/2 and k→k/4 halving edges: every k>3 closes the triangle
      // {k, k/2, k/4} since (k/2)→(k/4) is itself a halving edge
      val c = t(s, dir, "customer").where(col("c_custkey") > 3)
      val edges = c.select(col("c_custkey").as("src"),
          expr("c_custkey div 2").as("dst"))
        .union(c.select(col("c_custkey").as("src"),
          expr("c_custkey div 4").as("dst")))
      GraphOps.triangleCount(edges)
    }),

    // ---- storage layout: Z-order (Morton) clustering value ----
    // The curve value itself is oracle-checked; the file-skipping
    // property it exists for is asserted physically in ZOrderSpec.
    "layout_zvalue" -> ((s, dir) =>
      t(s, dir, "lineitem").where(col("l_orderkey") <= 2000)
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
          graft.operators.LayoutOps.zValue(
            Seq(col("l_orderkey"), col("l_partkey")), bits = 21).as("z"))
        .orderBy("l_orderkey", "l_partkey", "l_linenumber")),

    // ---- storage layout: Hilbert curve index (native codegen) ----
    // The locality-tighter 2-D curve next to layout_zvalue: the
    // oracle replays the identical 16 rotate-and-fold steps in
    // integer SQL; the one-step-adjacency property that justifies
    // the curve is HilbertSpec's exact walk test.
    "layout_hilbert" -> ((s, dir) =>
      t(s, dir, "lineitem").where(col("l_orderkey") <= 2000)
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
          graft.operators.LayoutOps.hilbertValue(
            col("l_orderkey"), col("l_partkey"), order = 16).as("h"))
        .orderBy("l_orderkey", "l_partkey", "l_linenumber")),

    // ---- MEASURED skip rates: Hilbert vs Morton clustering ----
    // The claim HilbertExpressions makes ("tight rectangles where
    // Morton has quadrant seams"), pinned as numbers: identical data,
    // identical 48 equal-width curve slices, identical 256-rectangle
    // lattice workload; the output is each curve's total segment- and
    // row-scans under bbox-stats pruning. 48 is deliberately not a
    // power of 4: aligned slice counts hide the seams (both curves
    // then cut into perfect subtree squares); real range-partitioned
    // writes don't align, and there Morton slices straddling a seam
    // carry diagonal bounding boxes the Hilbert walk never produces.
    "src_cluster_skiprate" -> ((s, dir) => {
      val base = t(s, dir, "lineitem").where(col("l_orderkey") <= 2000)
      val rects = s.range(16).selectExpr("id AS gx")
        .crossJoin(s.range(16).selectExpr("id AS gy"))
        .select((col("gx") * 16 + col("gy")).as("rect_id"),
          (col("gx") * 128).as("qx0"), (col("gy") * 128).as("qy0"),
          (col("gx") * 128 + 127).as("qx1"),
          (col("gy") * 128 + 127).as("qy1"))
      val h = graft.operators.LayoutOps.clusterSkipStats(base,
        "l_orderkey", "l_partkey",
        graft.operators.LayoutOps.hilbertValue(
          col("l_orderkey"), col("l_partkey"), order = 16),
        "hilbert", 48, rects)
      val z = graft.operators.LayoutOps.clusterSkipStats(base,
        "l_orderkey", "l_partkey",
        graft.operators.LayoutOps.zValue(
          Seq(col("l_orderkey"), col("l_partkey")), bits = 16),
        "zvalue", 48, rects)
      h.unionByName(z).orderBy("curve")
    }),

    // ---- bloom-prefiltered semi join (non-broadcastable dim path) ----
    "bloom_semi_join" -> ((s, dir) =>
      BloomOps.bloomSemiJoin(
          t(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
          t(s, dir, "orders")
            .where(col("o_orderpriority") === "1-URGENT")
            .select(col("o_orderkey")),
          factKey = "l_orderkey", dimKey = "o_orderkey",
          expectedItems = 100000L)
        .orderBy("l_orderkey", "l_linenumber")),

    // ---- time-series downsampling: OHLC resample + rolling z-score ----
    "ts_ohlc" -> ((s, dir) =>
      RelationalOps.resampleOhlc(events(s, dir), unit = "hour")
        .orderBy("event_type", "bucket")),

    "ts_rolling_zscore" -> ((s, dir) =>
      RelationalOps.rollingZscore(events(s, dir), key = "user_id",
          tsCol = "ts", idCol = "event_id", valCol = "value",
          n = 10, minPrev = 3)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"),
          col("n_prev"), col("mean_prev"), col("z"))
        .orderBy("user_id", "ts", "event_id")),

    // ---- deterministic PPS sampling over a distributed prefix scan ----
    "pipe_pps_sample" -> ((s, dir) =>
      PipelineOps.ppsSystematicSample(
          t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          idCol = "doc_id", weightCol = "n_chars", k = 50)
        .orderBy("doc_id")),

    // ---- hybrid retrieval: BM25 ⊕ embedding ANN via RRF ----
    "retrieval_rrf" -> ((s, dir) => {
      val lex = AnalyticsOps.bm25TopDocs(t(s, dir, "documents"),
          queryTerms = Seq("hash", "scan", "filter"), k = 20)
        .select(col("doc_id"), col("rank"))
      val emb = t(s, dir, "embeddings")
      // vec_id doubles as doc_id: the synthetic corpus aligns the two
      val vec = Similarity
        .bruteForceTopK(emb, emb.where(col("vec_id") === 0), k = 20)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      AnalyticsOps.rrfFuse(lex, vec).orderBy("rank")
    }),

    // ---- MinHash estimator audit: slot agreement vs exact Jaccard ----
    "dedup_bbit_minhash" -> ((s, dir) =>
      // 4-bit truncated signatures with collision-corrected estimator:
      // 1/8 the signature bytes, recall unchanged (banding stays
      // full-width), error audited against exact Jaccard per pair
      Dedup.bbitMinhashPairs(t(s, dir, "documents"))
        .orderBy("id_a", "id_b")),

    "dedup_minhash_estimate" -> ((s, dir) =>
      Dedup.minhashEstimatePairs(t(s, dir, "documents"), k = 8, bands = 4)
        .orderBy("id_a", "id_b")),

    // ---- product-quantization ANN with ADC scoring ----
    "ann_pq_adc" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.pqTopK(emb, emb.where(col("vec_id") < 8), k = 5)
        .orderBy("query_id", "rank")
    }),

    // ---- PQ with per-subspace k-means-TRAINED codebooks ----
    "ann_pq_trained" -> ((s, dir) => {
      // Jégou's actual training procedure (independent k-means per
      // sub-quantizer) replacing pqTopK's first-16 literal codebook;
      // encode + ADC identical to ann_pq_adc
      val emb = t(s, dir, "embeddings")
      Similarity.pqTopKTrained(emb, emb.where(col("vec_id") < 8),
          k = 5, m = 4, dims = 64, ksub = 16, iters = 2)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy("query_id", "rank")
    }),

    // ---- PQ shortlist + exact re-rank: the "+R" recall refinement ----
    "ann_pq_rerank" -> ((s, dir) => {
      // finer quantizer (m=8, ksub=32) + exact cosine re-rank of the
      // ADC top-50: recall@5 = 0.725 on this fixture vs 0.225 for raw
      // ADC at m=4 — the byte-compressed index's path to high recall
      val emb = t(s, dir, "embeddings")
      Similarity.pqTopKReranked(emb, emb.where(col("vec_id") < 8),
          k = 5, m = 8, dims = 64, ksub = 32, shortlist = 50)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy("query_id", "rank")
    }),

    // ---- IVFADC+R: coarse cells + residual PQ + exact re-rank ----
    "ann_ivfpq_topk" -> ((s, dir) => {
      // the composed Jégou IVFADC layout: recall@5 = 0.925 on this
      // fixture vs 0.725 for raw-vector PQ+rerank at the same (m,
      // ksub, shortlist) — residual quantization is the recall lever
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqTopK(emb, emb.where(col("vec_id") < 8), k = 5,
          nCells = 16, nProbe = 4, m = 8, dims = 64, ksub = 32,
          shortlist = 50)
        .orderBy("query_id", "rank")
    }),

    // ---- hopping (sliding) windows: 1 h width, 30 min slide ----
    "ts_hopping_counts" -> ((s, dir) =>
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("ws"), col("event_type"), col("n"))
        .orderBy("ws", "event_type")),

    // ---- linear multi-touch attribution over a 3-day window ----
    "analytics_attribution" -> ((s, dir) =>
      AnalyticsOps.linearAttribution(events(s, dir),
          conversionType = "purchase",
          touchTypes = Seq("view", "click"), windowDays = 3)
        .orderBy("channel")),

    // ---- exact weighted median per group ----
    "agg_weighted_median" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // weighted median: smallest value whose cumulative weight
      // reaches half the group total (2·cum >= W, integer compare —
      // no half-weight float). Weights are exact integers; the
      // cumulative window orders by the UNIQUE (value, event_id) so
      // ties accumulate deterministically. One partitioned window +
      // two aggs — the same shuffle any per-group rank statistic pays.
      val ev = events(s, dir).where(col("user_id").isNotNull)
        .select(col("event_type"), col("value"), col("event_id"),
          (col("event_id") % 5 + 1).as("w"))
      val win = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = ev.groupBy(col("event_type"))
        .agg(sum(col("w")).as("w_total"))
      ev.withColumn("cum", sum(col("w")).over(win))
        .join(tot, "event_type")
        .where(col("cum") * 2 >= col("w_total"))
        .groupBy(col("event_type"))
        .agg(max(col("w_total")).as("w_total"),
          min(struct(col("value"), col("event_id"))).as("m"))
        .select(col("event_type"), col("w_total"),
          col("m.value").as("weighted_median"))
        .orderBy("event_type")
    }),

    // ---- one-row dataset card over the corpus ----
    "pipe_corpus_stats" -> ((s, dir) => {
      // the summary block a dataset card opens with — one map-side-
      // combined aggregation over the documents scan, nothing else
      val d = t(s, dir, "documents")
        .withColumn("n_tok", size(TextOps.tokens(col("text"))))
      d.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_tok").cast("long")).as("total_tokens"),
        sum(length(col("text")).cast("long")).as("total_chars"),
        min(col("n_tok")).as("min_tokens"),
        max(col("n_tok")).as("max_tokens"))
        .withColumn("mean_tokens",
          col("total_tokens").cast("double") /
            col("n_docs").cast("double"))
    }),

    // ---- RANGE-frame window: trailing 30-day spend per customer ----
    "window_range_frame" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // value-range frames (not row counts): each order sees the sum
      // of the SAME customer's orders in the preceding 30 days —
      // partitioned by customer, so the frame scan is per-key local
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"),
        datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
          .cast("long").as("dd"),
        col("o_totalprice"))
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("dd"))
        .rangeBetween(-30, 0)
      o.select(col("o_orderkey"), col("o_custkey"), col("dd"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
            .cast("double").as("spend_30d"),
          count(lit(1)).over(w).as("orders_30d"))
        .orderBy("o_orderkey")
    }),

    // ---- deterministic corpus shuffle order ----
    "pipe_shuffle_order" -> ((s, dir) =>
      // the training-data shuffle: a content-independent, seedable,
      // reproducible global order via md5(seed || id) — TakeOrdered
      // top-50 (no full global sort materializes on the driver)
      t(s, dir, "documents")
        .select(col("doc_id"),
          md5(concat(lit("shuf1|"), col("doc_id"))).as("shuffle_key"))
        .orderBy("shuffle_key").limit(50)),

    // ---- CUPED variance-reduced A/B effect ----
    "analytics_cuped" -> ((s, dir) =>
      // same arms and cutover as analytics_did; the pre-period
      // covariate soaks up between-user variance before differencing
      AnalyticsOps.cupedEffect(events(s, dir), tsCol = "ts",
        valueCol = "value", cutover = s"$D 00:00:00")),

    // ---- difference-in-differences effect estimate ----
    "analytics_did" -> ((s, dir) => {
      // 2x2 natural experiment on the event log: treatment = odd
      // user_id, post = on/after the business date. DiD = the
      // treatment group's mean-value shift minus the control group's —
      // the standard causal read when parallel trends hold. One
      // map-side-combined aggregation (8 conditional decimal sums),
      // then a fixed IEEE expression; nothing shuffles but 8 numbers.
      val ev = events(s, dir).where(col("user_id").isNotNull)
        .withColumn("treat", (col("user_id") % 2 === 1))
        .withColumn("post", to_date(col("ts")) >= lit(D).cast("date"))
      val dec = DecimalType(18, 4)
      def cell(t: Boolean, p: Boolean) = (
        sum(when(col("treat") === t && col("post") === p,
          col("value").cast(dec))).cast("double"),
        count(when(col("treat") === t && col("post") === p, lit(1))))
      val ((sTT, nTT), (sTF, nTF)) = (cell(true, true), cell(true, false))
      val ((sCT, nCT), (sCF, nCF)) = (cell(false, true), cell(false, false))
      ev.agg(sTT.as("s_t_post"), nTT.as("n_t_post"),
          sTF.as("s_t_pre"), nTF.as("n_t_pre"),
          sCT.as("s_c_post"), nCT.as("n_c_post"),
          sCF.as("s_c_pre"), nCF.as("n_c_pre"))
        .select(col("n_t_post"), col("n_t_pre"), col("n_c_post"),
          col("n_c_pre"),
          (col("s_t_post") / col("n_t_post").cast("double") -
            col("s_t_pre") / col("n_t_pre").cast("double"))
            .as("delta_treat"),
          (col("s_c_post") / col("n_c_post").cast("double") -
            col("s_c_pre") / col("n_c_pre").cast("double"))
            .as("delta_control"),
          ((col("s_t_post") / col("n_t_post").cast("double") -
            col("s_t_pre") / col("n_t_pre").cast("double")) -
            (col("s_c_post") / col("n_c_post").cast("double") -
              col("s_c_pre") / col("n_c_pre").cast("double")))
            .as("did_effect"))
    }),

    // ---- strict local maxima of the daily series ----
    "ts_peaks" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(sum(col("value").cast(DecimalType(18, 4)))
          .cast("double").as("x"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
      daily
        .withColumn("prev_x", lag(col("x"), 1).over(w))
        .withColumn("next_x", lead(col("x"), 1).over(w))
        .where(col("prev_x").isNotNull && col("next_x").isNotNull &&
          col("x") > col("prev_x") && col("x") > col("next_x"))
        .orderBy("event_type", "d")
    }),

    // ---- week-over-week change of weekly totals ----
    "ts_wow_change" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val weekly = events(s, dir)
        .groupBy(col("event_type"),
          date_trunc("week", col("ts")).cast("date").as("wk"))
        .agg(sum(col("value").cast(DecimalType(18, 4)))
          .cast("double").as("x"),
          count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("wk"))
      weekly
        .withColumn("prev_x", lag(col("x"), 1).over(w))
        .withColumn("wow_pct",
          when(col("prev_x").isNotNull && col("prev_x") =!= 0.0,
            (col("x") - col("prev_x")) / col("prev_x")))
        .orderBy("event_type", "wk")
    }),

    // ---- walk-forward Holt backtest: 1-step MAE per series ----
    "ts_forecast_backtest" -> ((s, dir) => {
      // every day t >= 2 is forecast from the state fitted on days
      // < t (the honest walk-forward protocol, no lookahead); errors
      // accumulate on a 1e-9 fixed-point grid inside the same
      // sequential fold that updates the Holt state, so the MAE is
      // order-exact cross-engine
      val daily = events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(sum(col("value").cast(DecimalType(18, 4)))
          .cast("double").as("x"))
      daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          expr("transform(array_sort(collect_list(struct(d, x))), s -> s.x)")
            .as("xs"))
        .withColumn("st", expr(
          """aggregate(slice(xs, 2, greatest(size(xs) - 1, 0)),
            | array(element_at(xs, 1), cast(0.0 as double),
            |   cast(0.0 as double)),
            | (acc, x) -> array(
            |   0.5*x + 0.5*(element_at(acc,1) + element_at(acc,2)),
            |   0.3*((0.5*x + 0.5*(element_at(acc,1) + element_at(acc,2)))
            |     - element_at(acc,1)) + 0.7*element_at(acc,2),
            |   element_at(acc,3) + floor(abs(x - (element_at(acc,1)
            |     + element_at(acc,2))) * 1e9)))""".stripMargin))
        .select(col("event_type"), col("n_days"),
          when(col("n_days") > 1,
            element_at(col("st"), 3) / lit(1e9) /
              (col("n_days") - 1).cast("double")).as("mae_1step"))
        .orderBy("event_type")
    }),

    // ---- Holt linear-trend smoothing + 1-step forecast ----
    "ts_holt_forecast" -> ((s, dir) =>
      AnalyticsOps.holtLinear(events(s, dir), keyCol = "event_type",
          tsCol = "ts", valueCol = "value", alpha = 0.5, beta = 0.3)
        .orderBy("event_type")),

    // ---- local-level Kalman filter (adaptive-gain smoothing) ----
    "ts_kalman_level" -> ((s, dir) =>
      AnalyticsOps.kalmanLevel(events(s, dir), keyCol = "event_type",
          tsCol = "ts", valueCol = "value", q = 0.1, r = 1.0, p0 = 1.0)
        .orderBy("event_type")),

    // ---- trailing 3-day sliding DISTINCT users (rolling reach) ----
    "ts_sliding_distinct" -> ((s, dir) => {
      // distinct is not decomposable over hops, so the hopping-window
      // trick above can't count it; instead each (day, user) row
      // REPLICATES into the ≤3 target days it covers — an equi-join
      // shape (explode + shuffle on day) that survives 100 TB, where
      // the naive day-range theta join or a 90-row window over
      // collect_set would not. Expansion factor = window/hop = 3.
      val du = events(s, dir)
        .where(col("user_id").isNotNull)
        .select(to_date(col("ts")).as("d"), col("user_id")).distinct()
      val days = du.select(col("d").as("day")).distinct()
      val covered = du
        .withColumn("k", explode(sequence(lit(0), lit(2))))
        .select(expr("date_add(d, cast(k as int))").as("day"),
          col("d"), col("user_id"))
      // days is calendar-bounded (≤ tens of k rows even at a century
      // of log) — broadcast it so the covered-days probe is map-side
      covered.join(broadcast(days), "day")
        .groupBy(col("day"))
        .agg(
          countDistinct(when(col("d") === col("day"), col("user_id")))
            .as("u_day"),
          countDistinct(col("user_id")).as("u_3d"))
        .orderBy("day")
    }),

    // ---- trailing reach from MERGED daily HLL sketches ----
    "sketch_hll_sliding" -> ((s, dir) => {
      // the 100 TB answer to ts_sliding_distinct: distinct users per
      // trailing 7 days WITHOUT re-scanning history — one KB-sized
      // HLL sketch per day, replicated into the ≤7 days it covers and
      // union-merged per target day. History cost drops from
      // re-reading 7 days of log to merging 7 sketches; the estimate
      // is register-order-independent, verified within 5% of exact.
      val ev = events(s, dir).where(col("user_id").isNotNull)
      val daily = ev.groupBy(to_date(col("ts")).as("d"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val days = daily.select(col("d").as("day"))
      val est = daily
        .withColumn("k", explode(sequence(lit(0), lit(6))))
        .select(expr("date_add(d, cast(k as int))").as("day"), col("sk"))
        .join(broadcast(days), "day")
        .groupBy(col("day"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val exact = ev.select(to_date(col("ts")).as("d"), col("user_id"))
        .distinct()
        .withColumn("k", explode(sequence(lit(0), lit(6))))
        .select(expr("date_add(d, cast(k as int))").as("day"),
          col("user_id"))
        .join(broadcast(days), "day")
        .groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("exact_u7"))
      exact.join(est, "day")
        .select(col("day"), col("exact_u7"),
          (abs(col("est").cast("double") -
              col("exact_u7").cast("double")) <=
            col("exact_u7").cast("double") * 0.05).as("hll_ok"))
        .orderBy("day")
    }),

    // ---- DAU / WAU / MAU / stickiness ----
    "analytics_dau_mau" -> ((s, dir) => {
      // the product-analytics vital signs: per day, distinct users in
      // the trailing 1/7/30 days plus DAU/MAU stickiness. Same
      // replicate-into-covered-days equi-join as ts_sliding_distinct,
      // widened to the 30-day tier (×30 bounded expansion of the
      // DISTINCT (day, user) relation — far smaller than the log)
      val du = events(s, dir)
        .where(col("user_id").isNotNull)
        .select(to_date(col("ts")).as("d"), col("user_id")).distinct()
      val days = du.select(col("d").as("day")).distinct()
      val covered = du
        .withColumn("k", explode(sequence(lit(0), lit(29))))
        .select(expr("date_add(d, cast(k as int))").as("day"),
          col("d"), col("user_id"))
      covered.join(broadcast(days), "day")
        .groupBy(col("day"))
        .agg(
          countDistinct(when(col("d") === col("day"), col("user_id")))
            .as("dau"),
          countDistinct(when(datediff(col("day"), col("d")) <= 6,
            col("user_id"))).as("wau"),
          countDistinct(col("user_id")).as("mau"))
        .withColumn("stickiness",
          col("dau").cast("double") / col("mau").cast("double"))
        .orderBy("day")
    }),

    // ---- incremental LSH: only pairs touching the new batch ----
    "dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.incrementalLshCandidates(
          docs.where(col("doc_id") < 250),
          docs.where(col("doc_id") >= 250))
        .orderBy("id_a", "id_b")
    }),

    // ---- Matryoshka truncation audit: 16-dim prefix vs full ----
    "ann_matryoshka_audit" -> ((s, dir) => {
      // Matryoshka representations (Kusupati et al. 2022, public):
      // if embeddings are trained front-loaded, a short PREFIX should
      // retain most retrieval quality at a fraction of the bytes.
      // This audits the claim on this corpus: exact top-5 under the
      // 16-dim prefix vs the 64-dim ground truth, hits as pure
      // integer pairs (no cross-engine float compare).
      val emb = t(s, dir, "embeddings")
      val trunc = emb.select(col("vec_id"),
        slice(col("embedding"), 1, 16).as("embedding"))
      val full = Similarity.bruteForceTopK(emb,
          emb.where(col("vec_id") < 8), k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val pre = Similarity.bruteForceTopK(trunc,
          trunc.where(col("vec_id") < 8), k = 5)
        .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
      val hits = full.join(pre,
          col("query_id") === col("q2") &&
            col("neighbor_id") === col("n2"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("hits16"))
      emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left_outer")
        .withColumn("hits16", coalesce(col("hits16"), lit(0L)))
        .withColumn("recall16", col("hits16").cast("double") / lit(5.0))
        .orderBy("query_id")
    }),

    // ---- ANN quality audit: recall@5 of every approximate method ----
    "ann_ivf_persisted" -> ((s, dir) => {
      // the IVF index PERSISTED as transactional tables ("index as a
      // table"): centroid assignments in graft-log postings CLUSTERED
      // on cell_id, searched through a FRESH store (restart = paths
      // only), with the probe stats-pruned to a strict subset of the
      // posting segments (pinned via a 1-query nProbe=2 probe). The
      // per-query recall vs the exact brute-force top-5 is the
      // oracle-checked relation — identical semantics to the
      // in-memory IVF arm of ann_recall_audit.
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 8)
      val root = java.nio.file.Files
        .createTempDirectory("graft-annp").toString
      val idx = AnnIndex.buildIvf(s, emb, corpusVersion = 0L,
        s"$root/idx", nCells = 16, postingSegments = 8)
      val (res, _, _) = AnnIndex.searchIvf(s, idx, emb, q, k = 5,
        nProbe = 4)
      // the files-opened pin: one query, two probe cells → the
      // clustered layout must keep most posting segments CLOSED
      val (_, opened1, live1) = AnnIndex.searchIvf(s, idx, emb,
        emb.where(col("vec_id") === 0L), k = 5, nProbe = 2)
      val brute = Similarity.bruteForceTopK(emb, q, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val hits = res.select(col("query_id"), col("neighbor_id"))
        .join(brute, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .withColumn("recall", col("n_hits").cast("double") / lit(5.0))
        .withColumn("probe_pruned", lit(opened1 < live1))
        .orderBy("query_id")
    }),

    "ann_ivf_trained_persisted" -> ((s, dir) => {
      // the TRAINED persisted index: k-means centroids stored as the
      // centroids table's OWN vectors (index state, not corpus rows),
      // training config in the table properties, postings clustered
      // on cell_id — searched through a FRESH store (restart = paths
      // only) with results IDENTICAL to the in-memory ivfTopKTrained,
      // which is exactly what the k-means-replaying oracle computes.
      // probe_pruned pins the files-opened evidence on a 1-query
      // nProbe=2 probe.
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 8)
      val root = java.nio.file.Files
        .createTempDirectory("graft-anntp").toString
      val idx = AnnIndex.buildIvfTrained(s, emb, corpusVersion = 0L,
        s"$root/idx", nCells = 16, iters = 2, postingSegments = 8)
      val (res, _, _) = AnnIndex.searchIvf(s, idx, emb, q, k = 5,
        nProbe = 4)
      val (_, opened1, live1) = AnnIndex.searchIvf(s, idx, emb,
        emb.where(col("vec_id") === 0L), k = 5, nProbe = 2)
      res.select(col("query_id"), col("rank"), col("neighbor_id"))
        .withColumn("probe_pruned", lit(opened1 < live1))
        .orderBy("query_id", "rank")
    }),

    "ann_ivf_filtered" -> ((s, dir) => {
      // FILTERED (hybrid) ANN through the persisted index: the
      // predicate (vec_id % 3 = 0 — a keep-list surrogate) rides the
      // corpus side of the candidate fetch, so failing candidates
      // never reach the cosine — never post-filtering a top-k. The
      // relation is per-query recall@5 against the FILTERED
      // brute-force truth at overProbe=2 (8 of 16 cells).
      // filtered_pins: per-query recall at overProbe=2 is ≥ the
      // plain-probe filtered recall (candidates are a superset), the
      // probe still stats-prunes, and every returned neighbor
      // satisfies the predicate. (cached: three searches + the
      // brute-force arm re-read the corpus)
      val emb = t(s, dir, "embeddings").cache()
      val q = emb.where(col("vec_id") < 8)
      val root = java.nio.file.Files
        .createTempDirectory("graft-annf").toString
      val idx = AnnIndex.buildIvf(s, emb, corpusVersion = 0L,
        s"$root/idx", nCells = 16, postingSegments = 8)
      val keep = col("vec_id") % 3 === 0
      // the three searches are independent driver-blocking jobs on
      // one cached input — overlap them (§2.6 back-fill; the recall
      // relation is unchanged)
      val (res2, res1, narrow1) = par3(
        AnnIndex.searchIvf(s, idx, emb, q, k = 5,
          nProbe = 4, corpusFilter = Some(keep), overProbe = 2)._1,
        AnnIndex.searchIvf(s, idx, emb, q, k = 5,
          nProbe = 4, corpusFilter = Some(keep))._1,
        AnnIndex.searchIvf(s, idx, emb,
          emb.where(col("vec_id") === 0L), k = 5, nProbe = 2,
          corpusFilter = Some(keep)))
      val (_, opened1, live1) = narrow1
      val brute = Similarity.bruteForceTopK(emb.where(keep), q, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      def hitsOf(res: org.apache.spark.sql.DataFrame, out: String) =
        res.select(col("query_id"), col("neighbor_id"))
          .join(brute, Seq("query_id", "neighbor_id"), "left_semi")
          .groupBy(col("query_id")).agg(count(lit(1)).as(out))
      val h2 = hitsOf(res2, "n_hits")
      val h1 = hitsOf(res1, "n_hits_1")
      val allKept = res2.where(col("neighbor_id") % 3 =!= 0)
        .limit(1).collect().isEmpty
      val perQuery = q.select(col("vec_id").as("query_id"))
        .join(h2, Seq("query_id"), "left")
        .join(h1, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          coalesce(col("n_hits_1"), lit(0L)).as("n_hits_1"))
      val monotone = perQuery
        .where(col("n_hits") < col("n_hits_1"))
        .limit(1).collect().isEmpty
      val pins = monotone && allKept && opened1 < live1
      // intra-query reuse is over (searches + pin probes); never let
      // a base-table cache outlive its query — the returned relation
      // recomputes from parquet
      emb.unpersist()
      perQuery
        .select(col("query_id"), col("n_hits"),
          (col("n_hits").cast("double") / lit(5.0)).as("recall"))
        .withColumn("filtered_pins", lit(pins))
        .orderBy("query_id")
    }),

    "ann_ivfpq_persisted" -> ((s, dir) => {
      // the PERSISTED IVF-PQ index (IVFADC): PQ codes ride the
      // postings table, so candidate scoring is ADC from the INDEX
      // ALONE — the corpus is opened only for the exact-cosine rerank
      // of the shortlist. Lifecycle exercised end-to-end: build over
      // the initial corpus, then deletes + re-keyed appends absorbed
      // by maintainIvfPq (codes carried through the final-action
      // reduction), then a search that must equal the in-memory
      // ivfPqTopK over the FINAL corpus — which is exactly what the
      // k-codebook-replaying oracle computes. pq_pins: exactly-once
      // cursor + one-posting-per-live-vector, postings probe pruned,
      // corpus opens ∝ the rerank set (≤ shortlist ids) on a narrow
      // probe.
      // cache: the range-sliced appends + the maintenance feed
      // otherwise re-scan the embeddings parquet per slice
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding")).cache()
      val root = java.nio.file.Files
        .createTempDirectory("graft-annpq").toString
      val corpusStore = new graft.catalog.LogStore(s, s"$root/corpus",
        statsCol = Some("vec_id"))
      // 4 range-disjoint corpus segments (vec_id-clustered), so the
      // rerank fetch has real segments to prune — the query is
      // write-bearing by design (corpus staging + a 3-table index
      // build + a maintenance cycle), so the segment count is kept
      // at the minimum that still proves pruning. Staged as ONE
      // range-clustered commit (appendClustered — same 4 disjoint
      // vec_id-range segments, one write + one metadata pass instead
      // of four serial commits).
      corpusStore.appendClustered(emb, col("vec_id"), 4)
      val idx = AnnIndex.buildIvfPq(s, corpusStore.read(),
        corpusStore.latestVersion(), s"$root/idx", nCells = 16, m = 8,
        dims = 64, ksub = 32, postingSegments = 8)
      // corpus churn while the cursor lags: two deletes (non-codebook
      // ids) and twenty re-keyed copies
      corpusStore.deleteWhere("vec_id IN (40, 41)")
      corpusStore.append(emb
        .where(col("vec_id") >= 100 && col("vec_id") < 120)
        .select((col("vec_id") + 100000L).as("vec_id"),
          col("embedding")))
      emb.unpersist() // staging + churn done — drop the slice cache
      AnnIndex.maintainIvfPq(s, corpusStore, idx)
      val postings = graft.catalog.LogStore
        .configured(s, idx.postingsRoot)
      val corpus = corpusStore.read()
      val exactlyOnce =
        postings.lastTxn() == corpusStore.latestVersion() &&
          postings.countRows() == corpusStore.countRows()
      val q = corpus.where(col("vec_id") < 8)
      // the wide scan and the narrow files-opened probe are
      // independent searches — overlap them (§2.6 back-fill)
      val (scan, narrow) = par2(
        AnnIndex.searchIvfPq(s, idx, corpusStore, q, k = 5,
          nProbe = 4, shortlist = 50),
        // narrow probe: 3 rerank ids can touch at most 3 of the 4
        // corpus segments — corpusOpened < corpusLive is structural
        AnnIndex.searchIvfPq(s, idx, corpusStore,
          corpus.where(col("vec_id") === 0L), k = 3, nProbe = 2,
          shortlist = 3))
      val pins = exactlyOnce &&
        narrow.postingsOpened < narrow.postingsLive &&
        narrow.corpusOpened <= 3 &&
        narrow.corpusOpened < narrow.corpusLive
      scan.results
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .withColumn("pq_pins", lit(pins))
        .orderBy("query_id", "rank")
    }),

    "ann_ivfpq_filtered" -> ((s, dir) => {
      // FILTERED (hybrid) search through the persisted IVF-PQ index:
      // the filter attribute (tag = vec_id % 3 — a keep-list
      // surrogate) is CARRIED IN THE POSTINGS at build time, so the
      // predicate is evaluated from the INDEX ALONE — on the postings
      // scan, BEFORE the ADC shortlist window (a passing candidate is
      // never displaced by a filtered-out one; never post-filtering a
      // top-k), with zero corpus reads until the exact-cosine rerank
      // of the surviving shortlist. The oracle replays the same
      // deterministic IVFADC chain with the predicate in the
      // candidate CTE and the probe widened to nProbe×overProbe = 8
      // cells. pqf_pins: every neighbor satisfies the predicate, the
      // narrow probe still stats-prunes the postings, corpus opens
      // track the rerank set.
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding")).cache()
      val root = java.nio.file.Files
        .createTempDirectory("graft-annpqf").toString
      val corpusStore = new graft.catalog.LogStore(s, s"$root/corpus",
        statsCol = Some("vec_id"))
      // same 4-segment vec_id-clustered staging as
      // ann_ivfpq_persisted, as ONE range-clustered commit
      corpusStore.appendClustered(
        emb.withColumn("tag", col("vec_id") % 3), col("vec_id"), 4)
      emb.unpersist() // staging done — drop the slice cache
      val corpus = corpusStore.read()
      val idx = AnnIndex.buildIvfPq(s, corpus,
        corpusStore.latestVersion(), s"$root/idx", nCells = 16, m = 8,
        dims = 64, ksub = 32, postingSegments = 8,
        carryCols = Seq("tag"))
      val q = corpus.where(col("vec_id") < 8)
      val keep = col("tag") === 0
      // independent searches — overlap them (§2.6 back-fill)
      val (scan, narrow) = par2(
        AnnIndex.searchIvfPq(s, idx, corpusStore, q, k = 5,
          nProbe = 4, shortlist = 50, postingsFilter = Some(keep),
          overProbe = 2),
        AnnIndex.searchIvfPq(s, idx, corpusStore,
          corpus.where(col("vec_id") === 0L), k = 3, nProbe = 1,
          shortlist = 3, postingsFilter = Some(keep), overProbe = 2))
      val allKept = scan.results
        .where(col("neighbor_id") % 3 =!= 0)
        .limit(1).collect().isEmpty
      val pins = allKept &&
        narrow.postingsOpened < narrow.postingsLive &&
        narrow.corpusOpened <= 3 &&
        narrow.corpusOpened < narrow.corpusLive
      scan.results
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .withColumn("pqf_pins", lit(pins))
        .orderBy("query_id", "rank")
    }),

    "stream_ivfpq_maintain" -> ((s, dir) => {
      // STREAMING IVF-PQ maintenance: a foreachBatch driver tails the
      // corpus feed and calls maintainIvfPq per micro-batch — the
      // stream is only the scheduler; the index txn cursor makes
      // delivery exactly-once. Deletes + re-keyed appends land while
      // the cursor lags, one availableNow drain absorbs them (fresh
      // vectors ENCODED under the persisted codebook, deletes as
      // posting DVs), and the stream-fed index must answer exactly
      // like the IVFADC construction over the FINAL corpus — the
      // ann_ivfpq_persisted oracle. stream_pq_pins: cursor at the
      // corpus head, one posting per live vector.
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding")).cache()
      val root = java.nio.file.Files
        .createTempDirectory("graft-spqm").toString
      val corpusStore = new graft.catalog.LogStore(s, s"$root/corpus",
        statsCol = Some("vec_id"))
      corpusStore.append(emb)
      val idx = AnnIndex.buildIvfPq(s, corpusStore.read(),
        corpusStore.latestVersion(), s"$root/idx", nCells = 16, m = 8,
        dims = 64, ksub = 32, postingSegments = 8)
      corpusStore.deleteWhere("vec_id IN (40, 41)")
      corpusStore.append(emb
        .where(col("vec_id") >= 100 && col("vec_id") < 120)
        .select((col("vec_id") + 100000L).as("vec_id"),
          col("embedding")))
      emb.unpersist() // staging + churn done — drop the slice cache
      val q1 = graft.streaming.StreamingOps.maintainIvfPqStream(
        s, s"$root/corpus", idx, s"$root/ckpt")
      try q1.awaitTermination() finally if (q1.isActive) q1.stop()
      val postings = graft.catalog.LogStore
        .configured(s, idx.postingsRoot)
      val corpus = corpusStore.read()
      val exactlyOnce =
        postings.lastTxn() == corpusStore.latestVersion() &&
          postings.countRows() == corpusStore.countRows()
      val q = corpus.where(col("vec_id") < 8)
      val scan = AnnIndex.searchIvfPq(s, idx, corpusStore, q, k = 5,
        nProbe = 4, shortlist = 50)
      scan.results
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .withColumn("stream_pq_pins", lit(exactlyOnce))
        .orderBy("query_id", "rank")
    }),

    "ann_maxsim_topk" -> ((s, dir) => {
      // late-interaction (multi-vector / ColBERT-style) retrieval:
      // each embedding is sliced into 4 contiguous 16-dim token
      // vectors (a deterministic multi-vector surrogate the oracle
      // replays with list slices); score(q,d) = Σ over the 4 query
      // tokens of the max cosine against the doc's tokens. The
      // per-token maxima are pivoted and summed in FIXED order on
      // both sides, so the double score is bit-reproducible and the
      // rank fully oracle-checkable. This is the brute-force arm —
      // the truth ann_maxsim_pruned's candidate generation answers to.
      val emb = t(s, dir, "embeddings")
      val toks = array((0 until 4).map(j =>
        slice(col("embedding"), j * 16 + 1, 16)): _*)
      val docs = emb.select(col("vec_id"), toks.as("tokens"))
      val q = docs.where(col("vec_id") < 8)
      Similarity.maxSimTopK(docs, q, k = 5, qTokens = 4)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy("query_id", "rank")
    }),

    "ann_maxsim_pruned" -> ((s, dir) => {
      // two-stage MaxSim (the PLAID/ColBERTv2 shape on this
      // codebase's deterministic-codebook policy): doc tokens assign
      // to the first-16-token codebook, each query token probes its 2
      // nearest cells, candidates = probed-cell co-occurrence, exact
      // MaxSim scores CANDIDATES ONLY. Deterministic end-to-end — the
      // oracle replays codebook, assignment, probes, candidate set
      // and the fixed-order pivot sum. pruned_pins: the scored-pair
      // count is strictly sub-quadratic (candidates < |Q|×|D|).
      val emb = t(s, dir, "embeddings")
      val toks = array((0 until 4).map(j =>
        slice(col("embedding"), j * 16 + 1, 16)): _*)
      val docs = emb.select(col("vec_id"), toks.as("tokens"))
      val q = docs.where(col("vec_id") < 8)
      val (res, cand, full) = Similarity.maxSimTopKPruned(docs, q,
        k = 5, qTokens = 4, nCells = 16, nProbe = 2)
      res.select(col("query_id"), col("rank"), col("neighbor_id"))
        .withColumn("pruned_pins", lit(cand < full))
        .orderBy("query_id", "rank")
    }),

    "src_check_constraint" -> ((s, dir) => {
      // CHECK constraints as the ingest data-quality gate: stage two
      // valid lineitem slices behind `l_quantity >= 1 AND
      // l_returnflag IS NOT NULL`, prove a violating batch refuses
      // BEFORE any commit (version and count untouched), prove ANSI
      // NULL passes (a literal probe row the oracle re-adds), prove
      // the rename guard refuses a referenced column, then DROP the
      // constraint and land the once-refused shape. The final table
      // ≡ the two slices + the two literal rows — exactly what the
      // oracle reconstructs. constraint_pins: refusal named the
      // constraint, table untouched after it, rename refused while
      // recorded.
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"),
          col("l_returnflag"))
      val root = java.nio.file.Files
        .createTempDirectory("graft-ckq").toString
      val store = new graft.catalog.LogStore(s, s"$root/t")
      store.append(li.where(col("l_orderkey") < 100))
      store.addCheckConstraint("qty_floor",
        "l_quantity >= 1 AND l_returnflag IS NOT NULL")
      val v0 = store.latestVersion()
      val n0 = store.read().count()
      val refused = try {
        store.append(li.where(col("l_orderkey") < 100)
          .withColumn("l_quantity", -col("l_quantity")))
        false
      } catch { case scala.util.control.NonFatal(e) =>
        Iterator.iterate(e: Throwable)(_.getCause)
          .takeWhile(_ != null).exists(t =>
            Option(t.getMessage).exists(_.contains("qty_floor")))
      }
      val untouched = store.latestVersion() == v0 &&
        store.read().count() == n0
      val renameRefused = try {
        store.renameColumn("l_quantity", "qty"); false
      } catch { case e: IllegalArgumentException =>
        e.getMessage.contains("CHECK") }
      store.append(li.where(col("l_orderkey") >= 100 &&
        col("l_orderkey") < 200))
      store.append(li.limit(1).select(
        lit(-1L).as("l_orderkey"),
        lit(null).cast("double").as("l_quantity"),
        lit("Z").as("l_returnflag")))
      store.dropCheckConstraint("qty_floor")
      store.append(li.limit(1).select(
        lit(-2L).as("l_orderkey"),
        lit(-7.0).as("l_quantity"),
        lit("Y").as("l_returnflag")))
      val pins = refused && untouched && renameRefused
      store.read()
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          dsum(col("l_quantity")).as("sum_qty"))
        .withColumn("constraint_pins", lit(pins))
        .orderBy("l_returnflag")
    }),

    "src_column_defaults" -> ((s, dir) => {
      // CREATE-time column DEFAULTs end-to-end: the SQL surface
      // fills narrow INSERTs and the DEFAULT keyword at analysis;
      // the log's write funnel materializes the SAME literal for a
      // programmatic narrow append (no write path null-fills a
      // default-bearing column); a staged narrow path write refuses
      // (executor files cannot be padded after the fact); ALTER-time
      // defaults refuse (CREATE-time only — an added default would
      // read differently for old and new rows from the same absent
      // storage). Final content ≡ the oracle's literal
      // reconstruction; default_pins records the two refusals.
      import s.implicits._
      val cat = "graftsql"
      if (!s.conf.getAll.contains(s"spark.sql.catalog.$cat")) {
        val r0 = java.nio.file.Files
          .createTempDirectory("graft-sqlcat").toString
        s.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.GraftLogCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", r0)
      }
      val short = s"df_${java.util.UUID.randomUUID().toString.take(8)}"
      val tbl = s"$cat.bench.$short"
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.bench")
      s.sql(s"CREATE TABLE $tbl (id BIGINT, " +
        "qty DOUBLE DEFAULT 1.5, tag STRING DEFAULT 'en')")
      s.sql(s"INSERT INTO $tbl (id) VALUES (1), (2)")
      s.sql(s"INSERT INTO $tbl VALUES (3, DEFAULT, 'fr'), " +
        "(4, 9.0, DEFAULT)")
      val dirT = s"${s.conf.get(s"spark.sql.catalog.$cat.root")}" +
        s"/bench/$short"
      val store = graft.catalog.LogStore.configured(s, dirT)
      // the programmatic narrow append rides the same default
      store.append(Seq(Tuple1(5L)).toDF("id"))
      def chain(e: Throwable): String =
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .map(t => Option(t.getMessage).getOrElse("")).mkString("|")
      val alterRefused = try {
        s.sql(s"ALTER TABLE $tbl ADD COLUMN x DOUBLE DEFAULT 1.0")
        false
      } catch { case scala.util.control.NonFatal(e) =>
        chain(e).contains("CREATE-time") }
      val stagedRefused = try {
        Seq(Tuple1(6L)).toDF("id").write.format("graft-log")
          .option("path", dirT).mode("append").save()
        false
      } catch { case scala.util.control.NonFatal(e) =>
        chain(e).contains("default-bearing") }
      val pins = alterRefused && stagedRefused &&
        store.read().count() == 5L
      s.table(tbl).select(col("id"), col("qty"), col("tag"))
        .withColumn("default_pins", lit(pins))
        .orderBy("id")
    }),

    "ann_ivf_drift_retrain" -> ((s, dir) => {
      // the trained index's RETRAIN lifecycle end-to-end: built over
      // HALF the corpus, then the other half arrives while the
      // cursor lags and the drift trigger (an explicit tiny ratio —
      // the genuine-drift recall story is AnnIndexSpec's) fires a
      // generation-stamped fenced rebuild over the CURRENT corpus.
      // The retrained index answers EXACTLY like ivfTopKTrained over
      // the full corpus — which is the existing k-means-replaying
      // oracle, untouched. drift_pins: both tables stamped gen 1,
      // the rebuild re-recorded the training baseline, the probe
      // still stats-prunes.
      val emb = t(s, dir, "embeddings")
      val root = java.nio.file.Files
        .createTempDirectory("graft-anndrift").toString
      val corpusStore = new graft.catalog.LogStore(s, s"$root/corpus",
        statsCol = Some("vec_id"))
      corpusStore.append(emb.where(col("vec_id") % 2 === 0))
      val idx = AnnIndex.buildIvfTrained(s, corpusStore.read(),
        corpusStore.latestVersion(), s"$root/idx", nCells = 16,
        iters = 2, postingSegments = 8)
      corpusStore.append(emb.where(col("vec_id") % 2 === 1))
      AnnIndex.maintainIvf(s, corpusStore, idx, nCells = 16,
        retrainDriftRatio = 1e-9)
      val genC = graft.catalog.LogStore
        .configured(s, idx.centroidsRoot).recordedProp("ivfGen")
      val genP = graft.catalog.LogStore
        .configured(s, idx.postingsRoot).recordedProp("ivfGen")
      val rebaselined = graft.catalog.LogStore
        .configured(s, idx.centroidsRoot)
        .recordedProp("ivfTrainDist").exists(_.toDouble > 0)
      val corpus = corpusStore.read()
      val q = corpus.where(col("vec_id") < 8)
      // independent searches — overlap them (§2.6 back-fill)
      val (wide, narrow) = par2(
        AnnIndex.searchIvf(s, idx, corpus, q, k = 5, nProbe = 4),
        AnnIndex.searchIvf(s, idx, corpus,
          corpus.where(col("vec_id") === 0L), k = 5, nProbe = 2))
      val res = wide._1
      val (_, opened1, live1) = narrow
      val pins = genC.contains("1") && genP.contains("1") &&
        rebaselined && opened1 < live1
      res.select(col("query_id"), col("rank"), col("neighbor_id"))
        .withColumn("drift_pins", lit(pins))
        .orderBy("query_id", "rank")
    }),

    "stream_ivf_maintain" -> ((s, dir) => {
      // STREAMING index maintenance: a foreachBatch driver tails the
      // corpus feed and calls maintainIvf per micro-batch —
      // exactly-once via the index's txn cursor whatever the stream
      // delivers. Two legs ACROSS A RESTART (same checkpoint):
      // appends + a delete, then more appends; the stream-fed index
      // must answer like the ann_ivf_persisted construction over the
      // FINAL corpus (the oracle replays it), with one posting per
      // live vector and the cursor at the corpus head.
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val root = java.nio.file.Files
        .createTempDirectory("graft-sim").toString
      val corpusStore = new graft.catalog.LogStore(s, s"$root/corpus",
        statsCol = Some("vec_id"))
      corpusStore.append(emb)
      val idx = AnnIndex.buildIvf(s, corpusStore.read(),
        corpusStore.latestVersion(), s"$root/idx", nCells = 16,
        postingSegments = 8)
      val ckpt = s"$root/ckpt"
      // leg 1: fresh vectors land and two originals are deleted
      corpusStore.append(emb
        .where(col("vec_id") >= 100 && col("vec_id") < 130)
        .select((col("vec_id") + 100000L).as("vec_id"),
          col("embedding")))
      corpusStore.deleteWhere("vec_id IN (40, 41)")
      val q1 = graft.streaming.StreamingOps.maintainIvfStream(
        s, s"$root/corpus", idx, ckpt, nCells = 16)
      try q1.awaitTermination() finally if (q1.isActive) q1.stop()
      // leg 2: RESTART — more movement, a new stream, same checkpoint
      corpusStore.append(emb
        .where(col("vec_id") >= 130 && col("vec_id") < 140)
        .select((col("vec_id") + 100000L).as("vec_id"),
          col("embedding")))
      val q2 = graft.streaming.StreamingOps.maintainIvfStream(
        s, s"$root/corpus", idx, ckpt, nCells = 16)
      try q2.awaitTermination() finally if (q2.isActive) q2.stop()
      val postings = graft.catalog.LogStore
        .configured(s, idx.postingsRoot)
      val corpus = corpusStore.read()
      val exactlyOnce =
        postings.lastTxn() == corpusStore.latestVersion() &&
          postings.countRows() == corpusStore.countRows()
      val q = corpus.where(col("vec_id") < 8)
      val (res, _, _) = AnnIndex.searchIvf(s, idx, corpus, q, k = 5,
        nProbe = 4)
      val brute = Similarity.bruteForceTopK(corpus, q, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val hits = res.select(col("query_id"), col("neighbor_id"))
        .join(brute, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .withColumn("recall", col("n_hits").cast("double") / lit(5.0))
        .withColumn("stream_maintain_pins", lit(exactlyOnce))
        .orderBy("query_id")
    }),

    "ann_recall_audit" -> ((s, dir) => {
      // the approximate indexes are verified individually for
      // determinism; this query measures their QUALITY — per-query
      // recall against the exact brute-force top-5 — as a first-class,
      // oracle-checked relation. Hit membership is pure integer pairs,
      // so the audit never compares floats across engines.
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 8)
      // the arm builders each block the driver (the brute ground truth
      // eagerly checkpoints; IVF and PQ collect their codebooks):
      // independent jobs on the same tiny input, so build concurrently
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val bruteF = Future {
        Similarity.bruteForceTopK(emb, q, k = 5)
          .select(col("query_id"), col("neighbor_id"))
          .localCheckpoint(true) // consumed by all three audits
      }
      val lshF = Future { Similarity.lshTopK(emb, q, k = 5, planes = 6,
        dims = 64, tables = 4) }
      val ivfF = Future { Similarity.ivfTopK(emb, q, k = 5, nCells = 16,
        nProbe = 4) }
      val pqF = Future { Similarity.pqTopKReranked(emb, q, k = 5,
        m = 8, dims = 64, ksub = 32, shortlist = 50) }
      val adcF = Future { Similarity.pqTopK(emb, q, k = 5,
        m = 8, dims = 64, ksub = 32) }
      val ivfpqF = Future { Similarity.ivfPqTopK(emb, q, k = 5,
        nCells = 16, nProbe = 4, m = 8, dims = 64, ksub = 32,
        shortlist = 50) }
      val brute = Await.result(bruteF, Duration.Inf)
      def recallOf(approx: DataFrame, name: String): DataFrame = {
        val hits = approx.select(col("query_id"), col("neighbor_id"))
          .join(brute, Seq("query_id", "neighbor_id"), "left_semi")
          .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
        q.select(col("vec_id").as("query_id"))
          .join(hits, Seq("query_id"), "left")
          .select(lit(name).as("method"), col("query_id"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      }
      recallOf(Await.result(lshF, Duration.Inf), "lsh")
        .unionByName(recallOf(Await.result(ivfF, Duration.Inf), "ivf"))
        .unionByName(recallOf(Await.result(pqF, Duration.Inf), "pq"))
        .unionByName(recallOf(Await.result(adcF, Duration.Inf),
          "pq_adc"))
        .unionByName(recallOf(Await.result(ivfpqF, Duration.Inf),
          "ivfpq"))
        .withColumn("recall", col("n_hits").cast("double") / lit(5.0))
        .orderBy("method", "query_id")
    }),

    // ---- substring-span dedup: shared exact 40-char windows ----
    "dedup_substring_spans" -> ((s, dir) =>
      Dedup.substringSpanPairs(t(s, dir, "documents"), width = 40,
          stride = 20, minShared = 2L)
        .orderBy("id_a", "id_b")),

    // ---- MAXIMAL repeated spans: exact substring dedup (Lee et al.) ----
    "dedup_substring_maximal" -> ((s, dir) =>
      Dedup.maximalSubstringSpans(t(s, dir, "documents"), minLen = 40)
        .orderBy("id_a", "id_b", "start_a", "start_b")),

    // ---- per-doc duplicated-char fraction (the drop decision) ----
    "dedup_span_coverage" -> ((s, dir) =>
      Dedup.spanCoverage(t(s, dir, "documents"), minLen = 40)
        .orderBy("doc_id")),

    // ---- ensemble dedup: lexical ∪ semantic signals + evidence count ----
    "dedup_ensemble" -> ((s, dir) =>
      Dedup.ensembleNearDup(t(s, dir, "documents"),
          t(s, dir, "embeddings"))
        .orderBy("id_a", "id_b")),

    // ---- one-plan corpus sanitization: NFC → redact → dedup ----
    "pipe_sanitize_corpus" -> ((s, dir) => {
      // canonicalize (decomposed unicode injected per doc_id rule),
      // redact injected PII, then exact-dedup on the CLEAN body —
      // order matters: un-normalized or un-redacted text hashes
      // visually identical documents apart
      import org.apache.spark.sql.expressions.Window
      val injected = t(s, dir, "documents").withColumn("raw",
        concat(col("text"),
          when(col("doc_id") % 7 === 0, lit(" contact a@b.co"))
            .otherwise(lit("")),
          when(col("doc_id") % 13 === 0, lit(" cafe\u0301"))
            .otherwise(lit(""))))
      val canon = graft.functions.EditDistanceFunctions
        .nfc_normalize(col("raw"))
      val (red, em, ph) = TextOps.piiRedact(canon)
      val w = Window.partitionBy(md5(col("clean")))
      injected
        .select(col("doc_id"), red.as("clean"),
          (em + ph).as("n_redactions"))
        .withColumn("kept", col("doc_id") === min(col("doc_id")).over(w))
        .select(col("doc_id"), length(col("clean")).cast("int")
            .as("n_clean_chars"),
          col("n_redactions"), col("kept"))
        .orderBy("doc_id")
    }),

    // ---- privacy audit: k-anonymity + l-diversity ----
    "privacy_k_anonymity" -> ((s, dir) =>
      // group sizes over the quasi-identifier combination (k-anonymity:
      // a group under k is re-identifiable) and distinct sensitive
      // values per group (l-diversity: a group where everyone shares
      // one sensitive band leaks it even at size ≥ k). One hash
      // aggregation; both audits must pass before a table ships as
      // training data.
      t(s, dir, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          countDistinct(floor(col("c_acctbal") / 1000.0)).as("l_bal"))
        .withColumn("k_risk", col("n") < 5)
        .withColumn("l_risk", col("l_bal") < 3)
        .orderBy("c_nationkey", "c_mktsegment")),

    // ---- BPE seed statistics: corpus-wide adjacent symbol pairs ----
    "pipe_bpe_pairs" -> ((s, dir) =>
      // the first iteration of byte-pair-encoding training: count every
      // adjacent character pair inside tokens; the top pair is what BPE
      // would merge first. One explode chain + a tiny pair aggregation;
      // top-k via TakeOrderedAndProject, never a global sort.
      t(s, dir, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
        .where(length(col("tok")) >= 2)
        .select(explode(transform(
          sequence(lit(1), length(col("tok")) - 1),
          i => col("tok").substr(i, lit(2)))).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(50)),

    // ---- fuzzy contamination: corpus × benchmark two-sided LSH ----
    "pipe_contamination_fuzzy" -> ((s, dir) => {
      // every 10th doc plays the benchmark; the rest is the corpus
      val docs = t(s, dir, "documents")
      Dedup.fuzzyContamination(
          docs.where(col("doc_id") % 10 =!= 0),
          docs.where(col("doc_id") % 10 === 0))
        .orderBy("doc_id")
    }),

    // ---- error-safe functions: try_* family (null, never throw) ----
    "x_try_suite" -> ((s, dir) =>
      t(s, dir, "orders").where(col("o_orderkey") <= 3000)
        .select(col("o_orderkey"),
          try_divide(col("o_totalprice"), col("o_orderkey") % 50)
            .as("td"),
          try_add(lit(Long.MaxValue - 1000L), col("o_orderkey"))
            .as("ta"),
          expr("try_cast(substr(o_orderpriority, 1, 1) AS INT)")
            .as("tc_ok"),
          expr("try_cast(o_orderpriority AS INT)").as("tc_bad"),
          try_element_at(array(lit(1), lit(2)),
            (col("o_orderkey") % 5 + 1).cast("int")).as("te"))
        .orderBy("o_orderkey")),

    // ---- curriculum sharding: quality-ranked round-robin shards ----
    "pipe_curriculum" -> ((s, dir) =>
      PipelineOps.curriculumShards(
          t(s, dir, "documents")
            .withColumn("toks", TextOps.tokens(col("text")))
            .select(col("doc_id"),
              TextOps.qualityScoreFromTokens(col("text"), col("toks"))
                .as("quality")),
          qualityCol = "quality", idCol = "doc_id", nShards = 4)
        .select(col("doc_id"), col("quality"), col("rank"),
          col("shard"), col("pos_in_shard"))
        .orderBy("rank")),

    // ---- CUSUM change-point drift per user ----
    "ts_cusum_drift" -> ((s, dir) =>
      RelationalOps.cusumDrift(events(s, dir), key = "user_id",
          tsCol = "ts", idCol = "event_id", valCol = "value",
          threshold = 500.0)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"),
          col("s"), col("drift"), col("alert"))
        .orderBy("user_id", "ts", "event_id")),

    // ---- EWMA smoothing of each user's daily activity ----
    "ts_ewma" -> ((s, dir) =>
      // α=½ over the last 16 observations: integer weights 2^(15−j),
      // one double division per row — exact everywhere (Scaladoc on
      // ewmaSmooth explains why pow()-weighted EWMA could never hash)
      RelationalOps.ewmaSmooth(
          events(s, dir)
            .groupBy(col("user_id"), to_date(col("ts")).as("d"))
            .agg(count(lit(1)).as("n")),
          key = "user_id", orderCol = "d", valCol = "n", span = 16)
        .orderBy("user_id", "d")),

    // ---- first-order Markov transition model over event types ----
    "analytics_markov" -> ((s, dir) =>
      // analytics_event_bigrams mines the raw transition counts; this
      // is the row-stochastic MODEL on top — P(next | current) per
      // source state, the generator for synthetic user sequences
      AnalyticsOps.markovTransitions(events(s, dir))
        .orderBy("from_type", "to_type")),

    // ---- HHI concentration audit per event type ----
    "analytics_hhi" -> ((s, dir) =>
      // how concentrated each event type's volume is across users —
      // the dataset-balance audit (integer sums, one division)
      AnalyticsOps.concentrationIndex(events(s, dir),
          "event_type", "user_id")
        .orderBy("event_type")),

    // ---- day-of-week seasonality profile ----
    "analytics_seasonality" -> ((s, dir) =>
      AnalyticsOps.seasonalityProfile(events(s, dir))
        .orderBy("event_type", "dow")),

    // ---- market-basket association rules (Apriori pair order) ----
    "analytics_market_basket" -> ((s, dir) => {
      // baskets = orders, items = part brands (the bounded vocabulary a
      // rule miner actually targets); top-50 rules by lift
      val baskets = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
        .join(broadcast(t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("basket"), col("p_brand").as("item"))
      AnalyticsOps.marketBasketRules(baskets, "basket", "item",
          minSupport = 20L, topK = 50)
        .orderBy(col("lift").desc, col("item_a"), col("item_b"))
    }),

    // ---- sorted-neighborhood entity resolution ----
    "er_sorted_neighborhood" -> ((s, dir) =>
      // prefix-proximity blocking: rank by name via the range-bucket
      // decomposition, compare only rows ≤ 5 positions apart
      RelationalOps.sortedNeighborhoodMatches(t(s, dir, "customer"),
          idCol = "c_custkey", nameCol = "c_name", window = 5,
          maxDist = 1)
        .orderBy("id_a", "id_b")),

    // ---- per-document Shannon entropy (char + token) ----
    "text_entropy" -> ((s, dir) =>
      {
        // grouped-count shape (entropyByKey): bit-identical to the
        // per-row HOF (order-free decimal sums) but fully codegen'd —
        // ~3× faster here; the shuffle-free HOF (charEntropy /
        // tokenEntropyFromTokens) remains the scan-speed option
        val docs = t(s, dir, "documents")
        val ce = TextOps.entropyByKey(
          docs.select(col("doc_id"),
            explode(split(col("text"), "")).as("e")),
          "doc_id", "e").select(col("doc_id"),
            col("entropy").as("char_entropy"))
        val te = TextOps.entropyByKey(
          docs.select(col("doc_id"),
            explode(TextOps.tokens(col("text"))).as("e")),
          "doc_id", "e").select(col("doc_id"),
            col("entropy").as("token_entropy"))
        ce.join(te, "doc_id").orderBy("doc_id")
      }),

    // ---- exact rolling median over a bounded row frame ----
    "ts_rolling_median" -> ((s, dir) =>
      // robust twin of ts_rolling_zscore: trailing-7-row exact median
      // per user, sorted-array frame (bounded → codegen-safe)
      RelationalOps.rollingMedian(
          events(s, dir).select("user_id", "ts", "event_id", "value"),
          "user_id", "ts", "event_id", "value", n = 7)
        .orderBy("user_id", "ts", "event_id")),

    // ---- hard-negative mining over embeddings ----
    "emb_hard_negatives" -> ((s, dir) => {
      // contrastive-training counterpart of ann_bruteforce_topk: the
      // most-similar WRONG-label neighbors per query
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegatives(emb, emb.where(col("vec_id") < 8), k = 3)
        .orderBy("query_id", "rank")
    }),

    // ---- triplet mining: best positive + hardest negative + margin ----
    "emb_triplets" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.tripletMining(emb, emb.where(col("vec_id") < 8))
        .orderBy("query_id")
    }),

    // ---- Welch A/B test over a hash-based assignment ----
    "analytics_ab_welch" -> ((s, dir) =>
      // deterministic arm assignment (user parity — the hash-split
      // stand-in), exact decimal-accumulated moments, Welch t per type
      AnalyticsOps.abWelch(
          events(s, dir).withColumn("arm",
            pmod(col("user_id"), lit(2)).cast("int")),
          "event_type", "arm", "value")
        .orderBy("event_type")),

    // ---- two-proportion z-test on the conversion-style metric ----
    "analytics_ab_proportions" -> ((s, dir) =>
      // same parity arms as ab_welch; success = value over the 50
      // threshold — the conversion complement of the means test
      AnalyticsOps.abProportions(
          events(s, dir)
            .withColumn("arm", pmod(col("user_id"), lit(2)).cast("int"))
            .withColumn("succ", (col("value") > lit(50.0)).cast("int")),
          "event_type", "arm", "succ")
        .orderBy("event_type")),

    // ---- randomization test + Benjamini–Hochberg FDR per metric ----
    "analytics_rand_fdr" -> ((s, dir) =>
      // same parity arms + conversion success as ab_proportions; B=64
      // md5-coin unit reassignments give exact rational p-values, then
      // the BH step-up over the metric sheet in pure integer math
      AnalyticsOps.randomizationFdr(
          events(s, dir)
            .withColumn("arm", pmod(col("user_id"), lit(2)).cast("int"))
            .withColumn("succ", (col("value") > lit(50.0)).cast("int")),
          "event_type", "user_id", "arm", "succ")
        .orderBy("grp")),

    // ---- distribution drift between corpus slices (PSI) ----
    "analytics_psi" -> ((s, dir) =>
      // weekday slice as the reference distribution, weekend as the
      // current one, binned by event type — the snapshot-vs-snapshot
      // drift readout run before any retraining decision
      AnalyticsOps.psiDrift(
          events(s, dir)
            .withColumn("is_ref", dayofweek(col("ts")).between(2, 6)),
          "event_type", "is_ref")
        .orderBy("bin")),

    // ---- Kendall tau-b between the view and click daily series ----
    "ts_kendall_tau" -> ((s, dir) =>
      // the fully-robust companion of ts_cross_correlation: pair
      // orderings only, so one outlier day cannot move it
      AnalyticsOps.kendallTau(events(s, dir), "event_type", "ts",
          "view", "click")
        .orderBy("n_days")),

    // ---- double-sweep diameter bound of the halving graph ----
    "graph_double_sweep" -> ((s, dir) => {
      // two BFS sweeps: exact on trees, tight on real graphs; iters
      // sized to the halving graph's radius
      val c = t(s, dir, "customer").where(col("c_custkey") > 3)
      val edges = c.select(col("c_custkey").as("src"),
          expr("c_custkey div 2").as("dst"))
        .union(c.select(col("c_custkey").as("src"),
          expr("c_custkey div 4").as("dst")))
      GraphOps.doubleSweepDiameter(edges, iters = 16).orderBy("seed")
    }),

    // ---- TOST equivalence on the conversion rates ----
    "analytics_tost" -> ((s, dir) =>
      // the question the z-test cannot answer: are the arms the SAME
      // within delta = 1/20 — failing to reject is not equivalence
      AnalyticsOps.tostEquivalence(
          events(s, dir)
            .withColumn("arm", pmod(col("user_id"), lit(2)).cast("int"))
            .withColumn("succ", (col("value") > lit(50.0)).cast("int")),
          "event_type", "arm", "succ")
        .orderBy("grp")),

    // ---- CMH stratified association across the week ----
    "analytics_cmh" -> ((s, dir) =>
      // the Simpson's-paradox-proof readout: does treatment move the
      // rate WITHIN each weekday stratum, mix confound removed
      AnalyticsOps.cmhTest(
          events(s, dir)
            .where(col("value").isNotNull)
            .withColumn("dow",
              pmod(unix_date(to_date(col("ts"))), lit(7)).cast("long"))
            .withColumn("arm", pmod(col("user_id"), lit(2)).cast("int"))
            .withColumn("succ", (col("value") > lit(50.0)).cast("int")),
          "event_type", "dow", "arm", "succ")
        .orderBy("grp")),

    // ---- mutual information between event type and weekday ----
    "analytics_mutual_info" -> ((s, dir) => {
      // the dependence-STRENGTH companion of analytics_chi_square on
      // the same contingency pair: nats carried + normalized [0,1]
      val ev = events(s, dir).withColumn("dow_bucket",
        pmod(unix_date(to_date(col("ts"))), lit(7)).cast("long"))
      AnalyticsOps.mutualInformation(ev, "event_type", "dow_bucket")
        .orderBy("n")
    }),

    // ---- local bridges of the halving graph ----
    "graph_local_bridges" -> ((s, dir) => {
      // same halving edges as graph_triangles: edges with zero
      // triangle support are the community-connecting weak ties
      val c = t(s, dir, "customer").where(col("c_custkey") > 3)
      val edges = c.select(col("c_custkey").as("src"),
          expr("c_custkey div 2").as("dst"))
        .union(c.select(col("c_custkey").as("src"),
          expr("c_custkey div 4").as("dst")))
      GraphOps.localBridges(edges).orderBy("u", "v")
    }),

    // ---- Heaps' law vocabulary-growth exponent ----
    "text_heaps_law" -> ((s, dir) =>
      // how much NEW vocabulary the next 10x of this source brings —
      // the longitudinal companion of text_vocab_richness
      AnalyticsOps.heapsLaw(t(s, dir, "documents"))
        .orderBy("n_points")),

    // ---- Holm FWER step-down over the randomization sheet ----
    "analytics_holm_fwer" -> ((s, dir) =>
      // the guardrail-metric regime: not one false rejection, under
      // any dependence — the FWER complement of analytics_rand_fdr's
      // BH step-up over the SAME p-value sheet. alpha = 1/10, NOT
      // 1/20: the B=64 randomization grid's minimum p is 1/65 >
      // 0.05/m, so Holm at 0.05 is VACUOUS at this resolution — the
      // discreteness fact every randomization-test user must know
      // (raise B or alpha; we document by raising alpha)
      AnalyticsOps.holmStepDown(
          AnalyticsOps.randomizationFdr(
            events(s, dir)
              .withColumn("arm", pmod(col("user_id"), lit(2)).cast("int"))
              .withColumn("succ", (col("value") > lit(50.0)).cast("int")),
            "event_type", "user_id", "arm", "succ")
            .select(col("grp"), col("p_num")),
          "grp", "p_num", pDen = 65L, alphaNum = 1L, alphaDen = 10L)
        .orderBy("grp")),

    // ---- classifier eval of the language-ID heuristic ----
    "text_classifier_eval" -> ((s, dir) =>
      // the langid predictor graded against the true lang column:
      // per-class precision/recall/F1 + accuracy + multiclass MCC
      AnalyticsOps.classifierEval(
          t(s, dir, "documents")
            .withColumn("toks", TextOps.tokens(col("text")))
            .withColumn("pred", TextOps.langIdFromTokens(col("toks"))),
          "lang", "pred")
        .orderBy("cls")),

    // ---- MRR / P@10 / recall@10 / AP@10 of the BM25 ranking ----
    "retrieval_metrics" -> ((s, dir) =>
      // the binary-relevance companions of retrieval_ndcg, same
      // query terms, same self-supervised labels
      AnalyticsOps.retrievalMetricsAt10(t(s, dir, "documents"),
          Seq("hash", "scan", "filter"))
        .orderBy("n_relevant")),

    // ---- Page–Hinkley drift monitor on the daily value series ----
    "ts_page_hinkley" -> ((s, dir) =>
      // CUSUM's adaptive-mean sibling: drift away from wherever the
      // series has BEEN, not from a fixed reference
      AnalyticsOps.pageHinkley(events(s, dir), "event_type", "ts",
          "value")
        .orderBy("grp", "day")),

    // ---- nDCG@10 of the BM25 ranking (self-supervised grades) ----
    "retrieval_ndcg" -> ((s, dir) =>
      // does BM25 put the MOST term-covered docs first — the ranking-
      // quality companion of retrieval_rrf, same query terms
      AnalyticsOps.ndcgAt10(t(s, dir, "documents"),
          Seq("hash", "scan", "filter"))
        .orderBy("n_ranked")),

    // ---- quantile treatment effects across the parity arms ----
    "analytics_qte" -> ((s, dir) =>
      // the per-quantile complement of ab_welch/cuped: a treatment
      // that moves the tail but not the median is invisible to means
      AnalyticsOps.quantileTreatmentEffect(
          events(s, dir)
            .withColumn("arm", pmod(col("user_id"), lit(2)).cast("int")),
          "event_type", "arm", "value")
        .orderBy("grp")),

    // ---- weekly spectral strength of the daily value series ----
    "ts_weekly_spectrum" -> ((s, dir) =>
      // the periodogram at 1/7: how much of each type's daily
      // variance the week-period sinusoid pair explains — the
      // spectral complement of ts_seasonal_decompose
      AnalyticsOps.weeklySpectrum(events(s, dir), "event_type",
          "ts", "value")
        .orderBy("grp")),

    // ---- capture-recapture audience estimate across the cutover ----
    "analytics_capture_recapture" -> ((s, dir) =>
      // how many distinct users exist in TOTAL per event type, from
      // the overlap between the pre- and post-cutover windows (the
      // CUPED cutover) — the audience-size readout neither window
      // alone can give
      AnalyticsOps.captureRecapture(
          events(s, dir)
            .withColumn("in_a",
              col("ts") < lit(s"$D 00:00:00").cast("timestamp"))
            .withColumn("in_b",
              col("ts") >= lit(s"$D 00:00:00").cast("timestamp")),
          "event_type", "user_id", "in_a", "in_b")
        .orderBy("grp")),

    // ---- odds ratio / relative risk with log-domain Wald CI ----
    "analytics_odds_ratio" -> ((s, dir) =>
      // the effect-SIZE companion of the z/chi-square tests: same
      // parity arms and value>50 conversion, Haldane-Anscombe
      // corrected 2x2 cells, intervals in log domain
      AnalyticsOps.oddsRatio(
          events(s, dir)
            .where(col("value").isNotNull)
            .withColumn("arm", pmod(col("user_id"), lit(2)).cast("int"))
            .withColumn("succ", (col("value") > lit(50.0)).cast("int")),
          "event_type", "arm", "succ")
        .orderBy("grp")),

    // ---- vocabulary richness (Chao1 + Good–Turing unseen mass) ----
    "text_vocab_richness" -> ((s, dir) =>
      // how big is this corpus's vocabulary really, and how fast is
      // it still growing — the two numbers a curator reads before
      // deciding whether a source is mined out
      TextOps.vocabRichness(t(s, dir, "documents"))
        .orderBy("vocab")),

    // ---- Cochran–Armitage trend test across the week ----
    "analytics_trend_test" -> ((s, dir) =>
      // does the conversion rate TREND across the day-of-week score
      // (the monotone-alternative complement of analytics_chi_square,
      // same epoch-days-mod-7 bucket, same value>50 conversion)
      AnalyticsOps.cochranArmitage(
          events(s, dir)
            .where(col("value").isNotNull)
            .withColumn("dow",
              pmod(unix_date(to_date(col("ts"))), lit(7)).cast("long"))
            .withColumn("succ", (col("value") > lit(50.0)).cast("int")),
          "event_type", "dow", "succ")
        .orderBy("grp")),

    // ---- Kruskal–Wallis omnibus rank test across event types ----
    "analytics_kruskal_wallis" -> ((s, dir) =>
      // the k-group extension of analytics_mann_whitney: does the
      // value metric differ across ANY of the event-type slices
      AnalyticsOps.kruskalWallis(events(s, dir), "event_type", "value")
        .orderBy("grp")),

    // ---- bounded symmetric drift (Jensen–Shannon + both KLs) ----
    "analytics_jsd" -> ((s, dir) =>
      // same weekday-vs-weekend slices and event-type bins as
      // analytics_psi — the bounded [0, ln 2] readout dashboards
      // prefer when a bin can vanish from one slice
      AnalyticsOps.jsdDrift(
          events(s, dir)
            .withColumn("is_ref", dayofweek(col("ts")).between(2, 6)),
          "event_type", "is_ref")
        .orderBy("bin")),

    // ---- always-valid sequential A/B p-value (mSPRT) ----
    "analytics_msprt" -> ((s, dir) =>
      // the peeking-proof daily monitor over the same parity arms +
      // conversion metric as ab_proportions; log-domain p (exp is not
      // cross-engine), tau^2 = 1/100 prior scale
      AnalyticsOps.msprtSequential(
          events(s, dir)
            .withColumn("arm", pmod(col("user_id"), lit(2)).cast("int"))
            .withColumn("succ", (col("value") > lit(50.0)).cast("int")),
          "event_type", "ts", "arm", "succ")
        .orderBy("grp", "day")),

    // ---- sample-ratio-mismatch guardrail ----
    "analytics_srm" -> ((s, dir) =>
      // the assignment sanity check that gates every other readout:
      // parity arms against the 1:1 design ratio, df=1 chi-square
      AnalyticsOps.srmCheck(
          events(s, dir)
            .withColumn("arm", pmod(col("user_id"), lit(2)).cast("int")),
          "event_type", "arm")
        .orderBy("grp")),

    // ---- corpus-prep attrition funnel ----
    "pipe_filter_funnel" -> ((s, dir) => {
      // the audit row set every filtering run ships with: survivors
      // after gopher rules, + quality gate, + exact-dedup keeper —
      // flags built as joins, folded by ONE conditional aggregation
      val docs = t(s, dir, "documents")
      val gopher = TextOps.gopherFilters(docs)
        .select(col("doc_id"), col("keep").as("gopher_keep"))
      val keeper = docs
        .select(col("doc_id"),
          TextOps.normalizeForDedup(col("text")).as("nt"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("nt")).orderBy(col("doc_id"))))
        .select(col("doc_id"), (col("rk") === 1).as("dedup_keeper"))
      val flags = docs
        // Generate barrier (see pipe_training_set): keeps the quality
        // expression from re-inlining the tokenizer into the scan
        .withColumn("toks", explode(array(TextOps.tokens(col("text")))))
        .withColumn("q_ok", TextOps.qualityScoreFromTokens(col("text"),
          col("toks")) >= 0.85)
        .select("doc_id", "q_ok")
        .join(gopher, Seq("doc_id"), "left")
        .join(keeper, Seq("doc_id"), "left")
      PipelineOps.filterFunnel(flags,
          Seq("gopher_keep", "q_ok", "dedup_keeper"))
        .orderBy("stage_idx")
    }),

    // ---- PII redaction with audit counts ----
    "text_pii_redact" -> ((s, dir) => {
      // same deterministic injection as text_pii_scan, then the action:
      // matches → fixed placeholder tokens, counts kept for the audit
      val injected = t(s, dir, "documents").withColumn("itext",
        concat(col("text"),
          when(col("doc_id") % 7 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com"))).otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit(" call 555-123-4567"))
            .otherwise(lit(""))))
      val (red, emails, phones) = TextOps.piiRedact(col("itext"))
      injected.select(col("doc_id"), red.as("redacted"),
          emails.as("n_emails"), phones.as("n_phones"))
        .orderBy("doc_id")
    }),

    // ---- embedding average pooling: 64 dims → 8 window means ----
    "mm_avg_pool" -> ((s, dir) => {
      // per-row window sums via VecDot against a ones vector — the
      // same sequential-fold parity contract as every vector op here;
      // output is the FLAT (vec_id, win, mean) relation (arrays can't
      // cross the row-hash gate)
      import graft.functions.VectorFunctions.vec_dot
      val pooled = array((0 until 8).map { w =>
        vec_dot(slice(col("embedding"), w * 8 + 1, 8),
          typedLit(Seq.fill(8)(1.0))) / lit(8.0)
      }: _*)
      t(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(pooled).as(Seq("win", "mean")))
        .orderBy("vec_id", "win")
    }),

    // ---- session path mining: top navigation sequences ----
    "analytics_top_paths" -> ((s, dir) =>
      PipelineOps.sessionPaths(events(s, dir))
        .orderBy(col("n").desc, col("path").asc)
        .limit(20)),

    // ---- Unicode NFC canonicalization before any content hash ----
    "x_nfc_normalize" -> ((s, dir) => {
      // decomposed 'e'+COMBINING ACUTE appended in-query (the ASCII
      // test corpus has no multi-form text of its own); NFC composes
      // it to one code point
      val deco = concat(col("p_name"), lit(" cafe\u0301"))
      val norm = graft.functions.EditDistanceFunctions.nfc_normalize(deco)
      t(s, dir, "part").where(col("p_partkey") <= 300)
        .select(col("p_partkey"), norm.as("norm"),
          length(deco).cast("int").as("len_raw"),
          length(norm).cast("int").as("len_norm"))
        .orderBy("p_partkey")
    }),

    // ---- custom operator stack: logical node → strategy → exec ----
    "custom_topk_exec" -> ((s, dir) =>
      // the whole-operator path (survey §2.10 / custom dataflow):
      // TopKPerKeyNode plans as partial exec → hash exchange → final
      // exec, so the shuffle moves ≤ k rows per (key, map partition)
      // where the window formulation moves and sorts everything
      graft.plans.TopKPlan.topKPerKey(
          t(s, dir, "orders").select(col("o_orderkey"),
            col("o_orderstatus"), col("o_totalprice")),
          keyCols = Seq("o_orderstatus"), valueCol = "o_totalprice",
          tieCol = "o_orderkey", k = 3)
        .orderBy("o_orderstatus", "o_orderkey")),

    // ---- DSIR importance weights (hashed-bigram target/raw ratio) ----
    "text_dsir" -> ((s, dir) =>
      TextOps.dsirWeights(t(s, dir, "documents"))
        .orderBy("doc_id")),

    // ---- CCNet head/middle/tail quality buckets per language ----
    "text_ccnet_buckets" -> ((s, dir) =>
      TextOps.ccnetBuckets(t(s, dir, "documents"))
        .orderBy("doc_id")),

    // ---- first principal component by power iteration ----
    "emb_pca" -> ((s, dir) =>
      Similarity.pcaProjection(t(s, dir, "embeddings"), dims = 64,
          iters = 12)
        .orderBy("vec_id")),

    // ---- common-neighbor / Jaccard link prediction ----
    "graph_common_neighbors" -> ((s, dir) => {
      // same halving-edge graph as graph_triangles
      val c = t(s, dir, "customer").where(col("c_custkey") > 3)
      val edges = c.select(col("c_custkey").as("src"),
          expr("c_custkey div 2").as("dst"))
        .union(c.select(col("c_custkey").as("src"),
          expr("c_custkey div 4").as("dst")))
      // hub cap derived from this graph's own degree scan (p99.9 ×
      // 100, floor 64) — far above the halving graph's max degree, so
      // the cut is a no-op here and the oracle needs no cap branch
      GraphOps.commonNeighborJaccard(edges,
          maxDegree = GraphOps.suggestedDegreeCap(edges))
        .orderBy("id_a", "id_b")
    }),

    "graph_clustering_coeff" -> ((s, dir) => {
      // Watts–Strogatz local clustering per node on the same
      // halving-edge graph: per-node triangle incidence over the
      // degree-ordered oriented wedge census
      val c = t(s, dir, "customer").where(col("c_custkey") > 3)
      val edges = c.select(col("c_custkey").as("src"),
          expr("c_custkey div 2").as("dst"))
        .union(c.select(col("c_custkey").as("src"),
          expr("c_custkey div 4").as("dst")))
      GraphOps.localClusteringCoefficient(edges).orderBy("node")
    }),

    "graph_resource_alloc" -> ((s, dir) => {
      // RA link prediction on the same halving-edge graph: hub-damped
      // common-neighbor evidence (1/deg per witness, exact fixed-point
      // integer sum — no float accumulation order)
      val c = t(s, dir, "customer").where(col("c_custkey") > 3)
      val edges = c.select(col("c_custkey").as("src"),
          expr("c_custkey div 2").as("dst"))
        .union(c.select(col("c_custkey").as("src"),
          expr("c_custkey div 4").as("dst")))
      GraphOps.resourceAllocation(edges,
          maxDegree = GraphOps.suggestedDegreeCap(edges))
        .orderBy("id_a", "id_b")
    }),

    "graph_adamic_adar" -> ((s, dir) => {
      // AA link prediction on the same halving-edge graph: log-damped
      // common-neighbor evidence — 1/ln(deg) per witness, quantized to
      // DECIMAL(14,12) before the order-free decimal sum (the entropy
      // log-grid recipe), completing the CN-Jaccard / RA / AA trio
      val c = t(s, dir, "customer").where(col("c_custkey") > 3)
      val edges = c.select(col("c_custkey").as("src"),
          expr("c_custkey div 2").as("dst"))
        .union(c.select(col("c_custkey").as("src"),
          expr("c_custkey div 4").as("dst")))
      GraphOps.adamicAdar(edges,
          maxDegree = GraphOps.suggestedDegreeCap(edges))
        .orderBy("id_a", "id_b")
    }),

    // ---- exact Gini concentration of order spend ----
    "analytics_gini" -> ((s, dir) =>
      AnalyticsOps.giniCoefficient(t(s, dir, "orders"), "o_totalprice")),

    // ---- Lorenz curve (decile grid) over per-customer spend ----
    "analytics_lorenz" -> ((s, dir) =>
      AnalyticsOps.lorenzDeciles(
          t(s, dir, "orders").groupBy(col("o_custkey"))
            .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .as("spend")),
          "spend")
        .orderBy("decile")),

    // ---- multi-feature OLS by normal equations ----
    "analytics_ols_multi" -> ((s, dir) =>
      // price ~ quantity + discount: one sufficient-statistics pass,
      // closed-form Cramer solve, bit-reproducible coefficients
      AnalyticsOps.olsNormalEquations(t(s, dir, "lineitem"),
        y = "l_extendedprice", x1 = "l_quantity", x2 = "l_discount")),

    // ---- BPE merge training (3 full rounds) ----
    "pipe_bpe_merges" -> ((s, dir) =>
      PipelineOps.bpeMerges(t(s, dir, "documents"), rounds = 3)
        .orderBy("round")),

    // ---- BPE encode: tokenize the corpus with the trained merges ----
    "pipe_bpe_encode" -> ((s, dir) =>
      PipelineOps.bpeEncode(t(s, dir, "documents"), rounds = 3)
        .orderBy("doc_id")),

    // ---- MAD-based robust anomaly detection ----
    "analytics_mad_anomaly" -> ((s, dir) => {
      // median/MAD instead of mean/stddev: outliers can't drag their
      // own detection threshold. Two exact-percentile aggregates (the
      // agg_exact_quantiles pattern), each broadcast back; anomalies =
      // |value − med| > 3.5·MAD.
      // 100 TB scale path (the ccnetBuckets pattern): exact
      // `percentile` buffers every value of a group in one executor —
      // fine while |event_type| groups are few and per-group rows fit
      // memory, but at full corpus scale swap both aggregates to
      // `approx_percentile(value, 0.5, accuracy)` (mergeable GK
      // sketch, bounded memory); the oracle's quantile_cont then needs
      // the same sketch or a tolerance gate.
      val ev = events(s, dir)
      val med = ev.groupBy(col("event_type"))
        .agg(percentile(col("value"), lit(0.5)).as("med"))
      val mad = ev.join(broadcast(med), "event_type")
        .groupBy(col("event_type"), col("med"))
        .agg(percentile(abs(col("value") - col("med")), lit(0.5))
          .as("mad"))
      ev.join(broadcast(mad), "event_type")
        .where(abs(col("value") - col("med")) > lit(3.5) * col("mad"))
        .select(col("event_id"), col("event_type"), col("value"),
          col("med"), col("mad"),
          ((col("value") - col("med")) / col("mad")).as("score"))
        .orderBy("event_id")
    }),

    // ---- ER: matched pairs → components → canonical records ----
    "er_cluster_canonical" -> ((s, dir) => {
      // the full entity-resolution finish: sorted-neighborhood matches
      // → connected components → one canonical row per duplicate
      // cluster (min name wins — deterministic survivorship)
      val cust = t(s, dir, "customer")
      val matches = RelationalOps.sortedNeighborhoodMatches(cust,
        idCol = "c_custkey", nameCol = "c_name", window = 5, maxDist = 1)
      val comp = Dedup.connectedComponents(
        matches.select(col("id_a"), col("id_b")))
      comp.join(cust, comp("doc_id") === cust("c_custkey"))
        .groupBy(col("cluster_rep").as("cluster_id"))
        .agg(count(lit(1)).as("size"),
          min(col("c_name")).as("canonical_name"),
          max(col("doc_id")).as("max_member"))
        .orderBy("cluster_id")
    }),

    // ---- additive seasonal decomposition (moving-average STL core) ----
    "ts_seasonal_decompose" -> ((s, dir) =>
      AnalyticsOps.seasonalDecompose(events(s, dir))
        .orderBy("event_type", "day")),

    // ---- synchronous label-propagation communities ----
    "graph_label_propagation" -> ((s, dir) => {
      val c = t(s, dir, "customer").where(col("c_custkey") > 3)
      val edges = c.select(col("c_custkey").as("src"),
          expr("c_custkey div 2").as("dst"))
        .union(c.select(col("c_custkey").as("src"),
          expr("c_custkey div 4").as("dst")))
      GraphOps.labelPropagation(edges, iters = 4).orderBy("node")
    }),

    // ---- view→purchase conversion lag ----
    "analytics_conversion_lag" -> ((s, dir) => {
      // time-to-convert: first purchase strictly after the first view,
      // exact integer micros end to end
      val ev = events(s, dir)
      val v = ev.where(col("event_type") === "view")
        .groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("first_view_us"))
      val pu = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("pus"))
      pu.join(v, "user_id").where(col("pus") > col("first_view_us"))
        .groupBy(col("user_id"), col("first_view_us"))
        .agg(min(col("pus")).as("first_purchase_us"))
        .select(col("user_id"), col("first_view_us"),
          col("first_purchase_us"),
          (col("first_purchase_us") - col("first_view_us")).as("lag_us"))
        .orderBy("user_id")
    }),

    // ---- nearest-direction as-of join ----
    "join_asof_nearest_view" -> ((s, dir) => {
      val ev = events(s, dir)
      RelationalOps.asofNearest(
          ev.where(col("event_type") === "purchase")
            .select(col("event_id"), col("user_id"), col("ts")),
          ev.where(col("event_type") === "view")
            .select(col("user_id"), col("ts")),
          key = "user_id", ts = "ts", pick = "ts",
          outCol = "nearest_view_ts")
        .orderBy("event_id")
    }),

    // ---- k-core decomposition (k=3) by synchronous peeling ----
    "graph_kcore" -> ((s, dir) => {
      // halving TREE (peels away leaf-first, ~7 cascade rounds) + a
      // 20-clique community (the stable core): the fixture exercises
      // real peel dynamics, converging well inside the 10 rounds
      val c = t(s, dir, "customer")
      val tree = c.where(col("c_custkey") > 1)
        .select(col("c_custkey").as("src"),
          expr("c_custkey div 2").as("dst"))
      val small = c.where(col("c_custkey") <= 20)
        .select(col("c_custkey").as("k"))
      val clique = small.as("a").join(small.as("b"),
          col("a.k") < col("b.k"))
        .select(col("a.k").as("src"), col("b.k").as("dst"))
      GraphOps.kCore(tree.union(clique), k = 3, iters = 10)
        .orderBy("node")
    }),

    // ---- personalized PageRank from a seed set ----
    "graph_ppr" -> ((s, dir) => {
      val edges = t(s, dir, "customer").where(col("c_custkey") > 1)
        .select(col("c_custkey").as("src"),
          expr("c_custkey div 2").as("dst"))
      val seeds = t(s, dir, "customer").where(col("c_custkey") <= 10)
        .select(col("c_custkey").as("node"))
      GraphOps.personalizedPageRank(edges, seeds, iters = 3)
        .orderBy("node")
    }),

    // ---- corpus bigram LM + per-doc perplexity-style score ----
    "text_bigram_lm" -> ((s, dir) =>
      TextOps.bigramLmScores(t(s, dir, "documents"))
        .orderBy("doc_id")),

    // ---- Johnson–Lindenstrauss signed random projection ----
    "emb_random_projection" -> ((s, dir) =>
      Similarity.randomProjection(t(s, dir, "embeddings"),
          outDims = 16, dims = 64)
        .orderBy("vec_id")),

    // ---- A-ES weighted sampling without replacement ----
    "pipe_weighted_sample" -> ((s, dir) =>
      PipelineOps.weightedReservoirSample(
          t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          idCol = "doc_id", weightCol = "n_chars", k = 50)
        .orderBy("doc_id")),

    // ---- T5 span-corruption accounting (deterministic mask plan) ----
    "pipe_span_corruption" -> ((s, dir) =>
      PipelineOps.spanCorruptionPlan(t(s, dir, "documents"), rate = 15)
        .orderBy("doc_id")),

    // ---- Kaplan–Meier view→purchase survival curve ----
    "analytics_kaplan_meier" -> ((s, dir) =>
      AnalyticsOps.kaplanMeier(events(s, dir)).orderBy("dur_us")),

    // ---- single change-point (mean shift) per user series ----
    "ts_changepoint" -> ((s, dir) =>
      RelationalOps.changepointMeanShift(events(s, dir), key = "user_id",
          tsCol = "ts", idCol = "event_id", valCol = "value", minN = 20)
        .orderBy("user_id")),

    // ---- l-diversity audit of quasi-identifier classes ----
    "privacy_l_diversity" -> ((s, dir) =>
      // k-anonymity's companion check: a class is safe only when the
      // SENSITIVE attribute (order priority) is diverse within it
      t(s, dir, "orders")
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("o_orderpriority")).as("l_div"))
        .withColumn("diverse", col("l_div") >= 3)
        .orderBy("c_nationkey", "c_mktsegment")),

    // ---- HITS hubs & authorities over the customer-key graph ----
    "graph_hits" -> ((s, dir) => {
      val edges = t(s, dir, "customer").where(col("c_custkey") > 1)
        .select(col("c_custkey").as("src"),
          expr("c_custkey div 2").as("dst"))
      GraphOps.hits(edges, iters = 2).orderBy("node")
    }),

    // ---- multi-source BFS hop distances on the same graph ----
    "graph_shortest_hops" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val edges = c.where(col("c_custkey") > 1)
        .select(col("c_custkey").as("src"),
          expr("c_custkey div 2").as("dst"))
      val seeds = c.where(col("c_custkey") <= 2)
        .select(col("c_custkey").as("node"))
      GraphOps.shortestHops(edges, seeds, iters = 5).orderBy("node")
    }),

    // ---- harmonic closeness from 4 landmark sources ----
    "graph_harmonic_closeness" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val edges = c.where(col("c_custkey") > 1)
        .select(col("c_custkey").as("src"),
          expr("c_custkey div 2").as("dst"))
      val seeds = c.where(col("c_custkey") <= 4)
        .select(col("c_custkey").as("node"))
      GraphOps.harmonicCloseness(edges, seeds, iters = 5)
        .orderBy("source")
    }),

    // ---- daily-series autocorrelation per event type ----
    "ts_acf" -> ((s, dir) =>
      AnalyticsOps.autocorrelation(events(s, dir), maxLag = 3)
        .orderBy("event_type", "lag")),

    // ---- view→purchase lagged cross-correlation ----
    "ts_cross_correlation" -> ((s, dir) =>
      AnalyticsOps.crossCorrelation(events(s, dir), "view", "purchase",
        maxLag = 3).orderBy("lag")),

    // ---- Benford first-digit deviation on order totals ----
    "analytics_benford" -> ((s, dir) =>
      AnalyticsOps.benfordDeviation(t(s, dir, "orders"), "o_totalprice")
        .orderBy("digit")),

    // ---- t-closeness audit (completes the k-anon / l-div triad) ----
    "privacy_t_closeness" -> ((s, dir) =>
      AnalyticsOps.tCloseness(
        t(s, dir, "orders").join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey")),
        Seq("c_nationkey", "c_mktsegment"), "o_orderpriority")
        .orderBy("c_nationkey", "c_mktsegment")),

    // ---- Mann–Whitney U rank-sum test, view vs click values ----
    "analytics_mann_whitney" -> ((s, dir) =>
      AnalyticsOps.mannWhitneyU(events(s, dir), "event_type",
        "view", "click", "value")),

    // ---- RFM quartile segmentation of customers ----
    "analytics_rfm" -> ((s, dir) =>
      AnalyticsOps.rfmSegments(t(s, dir, "orders"), "1998-12-01")
        .orderBy("custkey")),

    // ---- KMV/theta distinct sketch per event type ----
    "sketch_theta" -> ((s, dir) =>
      Sketches.kmvDistinct(events(s, dir), "event_type", "user_id",
        k = 64).orderBy("grp")),

    // ---- theta-sketch set algebra: view ∪/∩ click audiences ----
    "sketch_theta_setops" -> ((s, dir) =>
      Sketches.kmvSetOps(events(s, dir), "event_type", "user_id",
        "view", "click", k = 64)),

    // ---- χ² independence: event type × day-of-week bucket ----
    "analytics_chi_square" -> ((s, dir) => {
      // dow bucket = epoch-days mod 7: pure integer arithmetic, no
      // engine-specific weekday numbering to reconcile
      val ev = events(s, dir).withColumn("dow_bucket",
        pmod(unix_date(to_date(col("ts"))), lit(7)).cast("long"))
      AnalyticsOps.chiSquare(ev, "event_type", "dow_bucket")
        .orderBy("a", "b")
    }),

    // ---- Cramér's V effect size of the same contingency table ----
    "analytics_cramers_v" -> ((s, dir) => {
      val ev = events(s, dir).withColumn("dow_bucket",
        pmod(unix_date(to_date(col("ts"))), lit(7)).cast("long"))
      AnalyticsOps.cramersV(ev, "event_type", "dow_bucket")
    }),

    // ---- modularity audit of the LPA communities ----
    "graph_modularity" -> ((s, dir) => {
      val c = t(s, dir, "customer").where(col("c_custkey") > 3)
      val edges = c.select(col("c_custkey").as("src"),
          expr("c_custkey div 2").as("dst"))
        .union(c.select(col("c_custkey").as("src"),
          expr("c_custkey div 4").as("dst")))
      GraphOps.modularity(edges,
        GraphOps.labelPropagation(edges, iters = 4)).orderBy("label")
    }),

    // ---- log-binned degree distribution ----
    "graph_degree_hist" -> ((s, dir) => {
      // the first diagnostic on any new graph: power-of-2 degree bins
      // (heavy tail shows as slow bin decay). Two exact aggregations —
      // degree, then bin — nothing else.
      val c = t(s, dir, "customer").where(col("c_custkey") > 3)
      val edges = c.select(col("c_custkey").as("src"),
          expr("c_custkey div 2").as("dst"))
        .union(c.select(col("c_custkey").as("src"),
          expr("c_custkey div 4").as("dst")))
      val und = edges
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .where(col("u") =!= col("v")).distinct()
      und.select(col("u").as("node"))
        .union(und.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
        // bin = floor(log2(deg)) computed EXACTLY as |binary digits|-1
        // (libm log2 can land a hair under an integer and mis-bin a
        // power of two; string length cannot)
        .groupBy((length(bin(col("deg"))) - 1).as("bin"))
        .agg(count(lit(1)).as("n_nodes"),
          min(col("deg")).as("min_deg"), max(col("deg")).as("max_deg"))
        .orderBy("bin")
    }),

    // ---- new vs returning users per day ----
    "analytics_new_returning" -> ((s, dir) => {
      // first-seen day per user (one agg), then per-day split — the
      // growth-accounting staple; all exact integer counts
      val du = events(s, dir).where(col("user_id").isNotNull)
        .select(to_date(col("ts")).as("d"), col("user_id")).distinct()
      val first = du.groupBy(col("user_id"))
        .agg(min(col("d")).as("first_d"))
      du.join(first, "user_id")
        .groupBy(col("d"))
        .agg(
          count(when(col("d") === col("first_d"), lit(1))).as("n_new"),
          count(when(col("d") > col("first_d"), lit(1)))
            .as("n_returning"))
        .orderBy("d")
    }),

    // ---- degree assortativity of the halving graph ----
    "graph_assortativity" -> ((s, dir) => {
      // same halving-edge graph as graph_triangles/modularity; halving
      // trees are disassortative (hubs feed leaves), so r < 0 here
      val c = t(s, dir, "customer").where(col("c_custkey") > 3)
      val edges = c.select(col("c_custkey").as("src"),
          expr("c_custkey div 2").as("dst"))
        .union(c.select(col("c_custkey").as("src"),
          expr("c_custkey div 4").as("dst")))
      GraphOps.degreeAssortativity(edges)
    }),

    // ---- one-way ANOVA F across event types ----
    "analytics_anova" -> ((s, dir) =>
      AnalyticsOps.anovaF(events(s, dir), "event_type", "value")),

    // ---- James–Stein shrinkage of per-type mean values ----
    "analytics_james_stein" -> ((s, dir) =>
      AnalyticsOps.jamesSteinMeans(events(s, dir), "event_type", "value")
        .orderBy("grp")),

    // ---- empirical-Bayes beta-binomial shrinkage of rates ----
    "analytics_eb_rates" -> ((s, dir) =>
      // per-priority rate of fully-shipped orders, shrunk toward the
      // ensemble under the moment-fitted Beta prior
      AnalyticsOps.ebBetaRates(
          t(s, dir, "orders").withColumn("is_f",
            (col("o_orderstatus") === "F").cast("int")),
          "o_orderpriority", "is_f")
        .orderBy("grp")),

    // ---- two-sample Kolmogorov–Smirnov, view vs click values ----
    "analytics_ks_test" -> ((s, dir) =>
      AnalyticsOps.ksTest(events(s, dir), "event_type", "view", "click",
        "value")),

    // ---- per-cluster silhouette audit of the k-means clustering ----
    "emb_silhouette" -> ((s, dir) =>
      Similarity.silhouetteScores(t(s, dir, "embeddings"), k = 8,
        iters = 2).orderBy("cell")),

    // ---- recursive CTE (Spark 4): BFS over the customer-key tree ----
    "sql_recursive_tree" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("v_customer")
      s.sql("""
        WITH RECURSIVE d(k, depth) AS (
          SELECT CAST(1 AS BIGINT) AS k, 0 AS depth
          UNION ALL
          SELECT c.c_custkey, d.depth + 1
          FROM v_customer c JOIN d ON c.c_custkey DIV 2 = d.k
          WHERE c.c_custkey > 1
        )
        SELECT depth, count(*) AS n, CAST(sum(k) AS BIGINT) AS key_sum
        FROM d GROUP BY depth ORDER BY depth
      """)
    }),

    // ---- correlated LATERAL derived table (per-group top-N in SQL) ----
    "join_lateral_topn" -> ((s, dir) => {
      t(s, dir, "nation").createOrReplaceTempView("v_nation")
      t(s, dir, "customer").createOrReplaceTempView("v_customer2")
      s.sql("""
        SELECT n.n_name, c.c_custkey, c.c_acctbal
        FROM v_nation n, LATERAL (
          SELECT c_custkey, c_acctbal FROM v_customer2
          WHERE c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 3) c
        ORDER BY n.n_name, c.c_acctbal DESC, c.c_custkey
      """)
    })
  )

  // ---- DuckDB oracle snippet builders for the extension operators ----

  /** The LPA replay CTE chain (customer-key graph, 4 synchronous
    * rounds ending in `l4`, adjacency in `adj`, undirected edges in
    * `und`) — shared by the graph_label_propagation oracle and the
    * graph_modularity oracle that audits its communities. */
  private def duckLpaCtes: String = {
    val steps = (1 to 4).map { k =>
      s"""n$k AS MATERIALIZED (SELECT adj.node, l.label
         | FROM adj JOIN l${k - 1} l ON adj.nb = l.node),
         |c$k AS (SELECT node, label, count(*) AS c
         | FROM n$k GROUP BY 1, 2),
         |l$k AS MATERIALIZED (SELECT node, label FROM (
         | SELECT node, label, row_number() OVER (PARTITION BY node
         |  ORDER BY c DESC, label ASC) AS rn FROM c$k) WHERE rn = 1)"""
        .stripMargin
    }.mkString(",\n")
    s"""k AS (SELECT c_custkey AS kk FROM customer
       | WHERE c_custkey > 3),
       |e0 AS (SELECT kk AS src, kk // 2 AS dst FROM k
       | UNION ALL SELECT kk, kk // 4 FROM k),
       |und AS (SELECT DISTINCT least(src, dst) AS u,
       |  greatest(src, dst) AS v FROM e0
       | WHERE least(src, dst) <> greatest(src, dst)),
       |adj AS MATERIALIZED (SELECT u AS node, v AS nb FROM und
       | UNION ALL SELECT v, u FROM und),
       |l0 AS MATERIALIZED (SELECT DISTINCT node, node AS label
       | FROM adj),
       |$steps""".stripMargin
  }

  /** Sequential left-fold dot product in double — replicates VecDot's
    * accumulation order bit-for-bit. */
  private def duckDot(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
    s"list_transform(list_zip($a, $b), " +
    s"x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), (p,q) -> p + q)"

  /** Unrolled Lloyd's-k-means CTE chain replicating
    * `Similarity.kMeans`: deterministic first-`k` init, per-iteration
    * argmin assignment (d ASC, cid ASC tie-break) over
    * vv − 2·v·c + c·c, per-dimension means decimal-accumulated from
    * the RAW float elements (the groupCentroids VARCHAR hop — float
    * shortest-repr parses exactly, double-cast repr would not), and
    * emptied cells retaining the previous centroid via COALESCE. */
  private def duckKMeansAssignCtes(i: Int): String =
    s"""d$i AS (SELECT ev.vec_id, c.cid,
       |  (ev.vv - CAST(2 AS DOUBLE) * ${duckDot("ev.v", "c.cv")}
       |    + c.cc) AS d
       |  FROM ev CROSS JOIN cs$i c),
       |a$i AS (SELECT vec_id, cid, d FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY d ASC, cid ASC) AS rn FROM d$i) WHERE rn = 1)"""
      .stripMargin

  /** The shared Lloyd-iteration CTE prefix (ends after `d$iters` /
    * `a$iters`, the assignment under the FINAL centroids `cs$iters`):
    * `e` (double vectors), `ev` (+vv), first-k init `c0`/`cs0`, then
    * per-round assignment + decimal-accumulated mean update. */
  private def duckKMeansChain(k: Int, iters: Int, dims: Int): String = {
    def updateCtes(i: Int): String =
      s"""m$i AS (SELECT a.cid, t.pos,
         |  CAST(CAST(sum(CAST(CAST(raw.embedding[t.pos + 1] AS VARCHAR)
         |      AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS mean
         |  FROM a$i a JOIN embeddings raw ON a.vec_id = raw.vec_id
         |  CROSS JOIN range($dims) t(pos) GROUP BY a.cid, t.pos),
         |c${i + 1} AS (SELECT t.cid, COALESCE(nm.cv, prev.cv) AS cv
         |  FROM range($k) t(cid)
         |  LEFT JOIN (SELECT cid, list(mean ORDER BY pos) AS cv
         |    FROM m$i GROUP BY cid) nm ON t.cid = nm.cid
         |  JOIN c$i prev ON t.cid = prev.cid),
         |cs${i + 1} AS (SELECT cid, cv, ${duckDot("cv", "cv")} AS cc
         |  FROM c${i + 1})""".stripMargin
    val rounds = (0 until iters)
      .map(i => s"${duckKMeansAssignCtes(i)},\n${updateCtes(i)}")
      .mkString(",\n")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |ev AS (SELECT vec_id, v, ${duckDot("v", "v")} AS vv FROM e),
       |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
       |  v AS cv FROM e ORDER BY vec_id LIMIT $k),
       |cs0 AS (SELECT cid, cv, ${duckDot("cv", "cv")} AS cc FROM c0),
       |$rounds,
       |${duckKMeansAssignCtes(iters)}""".stripMargin
  }

  private def duckKMeansSql(k: Int, iters: Int, dims: Int): String =
    s"""WITH ${duckKMeansChain(k, iters, dims)}
       |SELECT vec_id, CAST(cid AS INTEGER) AS cell, d AS dist
       |FROM a$iters ORDER BY vec_id""".stripMargin

  /** Trained-IVF oracle: the k-means chain's final centroids (cs) and
    * corpus assignment (a) feed the classic IVF probe/verify —
    * replicates `Similarity.ivfTopKTrained`: nProbe nearest trained
    * centroids per query by the TRAINING metric (d ASC, cid ASC), then
    * exact cosine over the probed cells' members. */
  private def duckIvfTrainedSql(nCells: Int, iters: Int, dims: Int,
      nProbe: Int, k: Int, queryPred: String = "vec_id < 8",
      extraCols: String = ""): String =
    s"""WITH ${duckKMeansChain(nCells, iters, dims)},
       |n AS (SELECT vec_id, v, sqrt(${duckDot("v", "v")}) AS nrm FROM e),
       |probes AS (SELECT vec_id AS q_id, cid FROM (
       |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY d ASC, cid ASC) AS rn FROM d$iters
       |  WHERE $queryPred) WHERE rn <= $nProbe),
       |p AS (SELECT pr.q_id AS query_id, c.vec_id AS neighbor_id,
       |  ${duckDot("qn.v", "cn.v")} / (qn.nrm * cn.nrm) AS cos
       |  FROM probes pr JOIN a$iters c ON c.cid = pr.cid
       |    AND c.vec_id != pr.q_id
       |  JOIN n qn ON qn.vec_id = pr.q_id
       |  JOIN n cn ON cn.vec_id = c.vec_id),
       |r AS (SELECT query_id, neighbor_id, row_number() OVER (
       |  PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC)
       |  AS rank FROM p)
       |SELECT query_id, rank, neighbor_id$extraCols FROM r
       |WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** Trained-PQ oracle: the m independent per-subspace Lloyd runs of
    * `Similarity.pqTopKTrained` replayed as ONE keyed CTE chain (the
    * subspace index j is a group key beside vec_id/cid) — first-ksub-
    * by-id init per subspace, `iters` rounds of argmin assignment
    * (d ASC, cid ASC) over vv − 2·s·c + c·c and decimal-accumulated
    * mean recompute from the RAW float elements (the groupCentroids
    * VARCHAR hop), emptied cells retaining the previous codeword via
    * COALESCE; the FINAL round's distance relation then doubles as the
    * corpus encode (argmin) and the query ADC tables, summed in the
    * same fixed-order pivot as the ann_pq_adc oracle. */
  private def duckPqTrainedSql(m: Int, ksub: Int, dims: Int, iters: Int,
      k: Int, queryPred: String = "vec_id < 8"): String = {
    val sub = dims / m
    val adcSum = (0 until m)
      .map(j => s"max(CASE WHEN j = $j THEN d END)")
      .reduceLeft((a, b) => s"($a + $b)")
    def assign(i: Int): String =
      s"""d$i AS MATERIALIZED (SELECT s.vec_id, s.j, c.cid,
         |  (s.vv - CAST(2 AS DOUBLE) * ${duckDot("s.s", "c.cv")}
         |    + c.cc) AS d
         |  FROM svv s JOIN cs$i c ON s.j = c.j),
         |a$i AS (SELECT vec_id, j, cid FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id, j
         |    ORDER BY d ASC, cid ASC) AS rn FROM d$i) WHERE rn = 1)"""
        .stripMargin
    def update(i: Int): String =
      s"""m$i AS (SELECT a.j, a.cid, t.pos,
         |  CAST(CAST(sum(CAST(CAST(raw.embedding[a.j*$sub + t.pos + 1]
         |      AS VARCHAR) AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS mean
         |  FROM a$i a JOIN embeddings raw ON a.vec_id = raw.vec_id
         |  CROSS JOIN range($sub) t(pos) GROUP BY a.j, a.cid, t.pos),
         |c${i + 1} AS (SELECT prev.j, prev.cid,
         |  COALESCE(nm.cv, prev.cv) AS cv
         |  FROM c$i prev LEFT JOIN (SELECT j, cid,
         |    list(mean ORDER BY pos) AS cv FROM m$i GROUP BY j, cid) nm
         |  ON prev.j = nm.j AND prev.cid = nm.cid),
         |cs${i + 1} AS (SELECT j, cid, cv, ${duckDot("cv", "cv")} AS cc
         |  FROM c${i + 1})""".stripMargin
    val rounds = (0 until iters)
      .map(i => s"${assign(i)},\n${update(i)}").mkString(",\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |sv AS (SELECT vec_id, j, v[(j*$sub+1):((j+1)*$sub)] AS s
       |  FROM e CROSS JOIN range($m) t(j)),
       |svv AS MATERIALIZED (SELECT vec_id, j, s,
       |  ${duckDot("s", "s")} AS vv FROM sv),
       |c0 AS (SELECT j, cid, s AS cv FROM (
       |  SELECT j, vec_id, s, row_number() OVER (PARTITION BY j
       |    ORDER BY vec_id) - 1 AS cid FROM sv) WHERE cid < $ksub),
       |cs0 AS (SELECT j, cid, cv, ${duckDot("cv", "cv")} AS cc FROM c0),
       |$rounds,
       |${assign(iters)},
       |qd AS (SELECT vec_id AS query_id, j, cid AS i, d FROM d$iters
       |  WHERE $queryPred),
       |contrib AS (SELECT q.query_id, a.vec_id AS neighbor_id, q.j, q.d
       |  FROM qd q JOIN a$iters a ON q.j = a.j AND q.i = a.cid
       |    AND a.vec_id != q.query_id),
       |tot AS (SELECT query_id, neighbor_id, $adcSum AS approx_dist
       |  FROM contrib GROUP BY 1, 2),
       |r AS (SELECT query_id, neighbor_id, row_number() OVER (
       |  PARTITION BY query_id
       |  ORDER BY approx_dist ASC, neighbor_id ASC) AS rank FROM tot)
       |SELECT query_id, rank, neighbor_id FROM r WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** LSH signature expression over a DOUBLE[] column — replicates
    * Similarity.lshSignature by inlining the SAME driver-side sign
    * matrix (data-independent md5-parity signs) as literal arrays.
    * `offset` selects hash table t's plane rows (t·planes ..): bit p
    * of the signature comes from matrix row offset+p, exactly as
    * `Similarity.lshTopK`'s per-table `sigFor`. */
  private def duckLshSig(vecCol: String, planes: Int, dims: Int,
      offset: Int = 0): String = {
    val m = graft.operators.Similarity.signMatrix(offset + planes, dims)
    (0 until planes).map { p =>
      val arr = m(offset + p).map(v => if (v > 0) "1" else "-1")
        .mkString("[", ",", "]")
      s"(CASE WHEN ${duckDot(vecCol, arr)} > 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")
  }

  /** Multi-table multi-probe LSH candidate+verify CTE chain (over a
    * CTE `n(vec_id, v, nrm)`): replicates `Similarity.lshTopK` —
    * per-table signatures, identity + Hamming-1 probes, distinct
    * candidate pairs, exact cosine on candidates. Emits CTEs
    * `sg, qs, lcand, lp` with `lp(query_id, neighbor_id, cos)`. */
  private def duckLshMultiCtes(planes: Int, tables: Int,
      queryPred: String = "vec_id < 8"): String = {
    val sg = (0 until tables).map(t =>
      s"SELECT vec_id, $t AS t, " +
        s"${duckLshSig("v", planes, 64, t * planes)} AS sig FROM n")
      .mkString("\n  UNION ALL ")
    val probeList = ("sig" +: (0 until planes).map(p =>
      s"xor(sig, ${1 << p})")).mkString("[", ", ", "]")
    s"""sg AS ($sg),
       |qs AS (SELECT vec_id AS q_id, t, unnest($probeList) AS sig
       |  FROM sg WHERE $queryPred),
       |lcand AS (SELECT DISTINCT q.q_id AS query_id,
       |  c.vec_id AS neighbor_id
       |  FROM qs q JOIN sg c ON q.t = c.t AND q.sig = c.sig
       |    AND c.vec_id != q.q_id),
       |lp AS (SELECT lcand.query_id, lcand.neighbor_id,
       |  ${duckDot("qn.v", "cn.v")} / (qn.nrm * cn.nrm) AS cos
       |  FROM lcand JOIN n qn ON lcand.query_id = qn.vec_id
       |  JOIN n cn ON lcand.neighbor_id = cn.vec_id)""".stripMargin
  }

  /** Parameterized PQ-ADC CTE chain (over a CTE `e(vec_id, v)`):
    * replicates `Similarity.pqTopK`'s codebook (first `ksub` ids),
    * per-subspace encode, and left-associated ADC sum. Emits CTEs
    * `cb, sv, cv, dists, enc, qd, contrib, tot` with
    * `tot(query_id, neighbor_id, approx_dist)`. */
  private def duckPqCtes(m: Int, ksub: Int, dims: Int,
      queryPred: String = "vec_id < 8"): String = {
    val sub = dims / m
    val adcSum = (0 until m)
      .map(j => s"max(CASE WHEN j = $j THEN d END)")
      .reduceLeft((a, b) => s"($a + $b)")
    s"""cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS i, v
       |  FROM e ORDER BY vec_id LIMIT $ksub),
       |sv AS (SELECT vec_id, j, v[(j*$sub+1):((j+1)*$sub)] AS s
       |  FROM e CROSS JOIN range($m) t(j)),
       |cv AS (SELECT i, j, v[(j*$sub+1):((j+1)*$sub)] AS c
       |  FROM cb CROSS JOIN range($m) t(j)),
       |dists AS (SELECT s.vec_id, s.j, c.i,
       |  (${duckDot("s.s", "s.s")} - CAST(2 AS DOUBLE)
       |    * ${duckDot("s.s", "c.c")} + ${duckDot("c.c", "c.c")}) AS d
       |  FROM sv s JOIN cv c ON s.j = c.j),
       |enc AS (SELECT vec_id, j, i AS code FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id, j
       |    ORDER BY d ASC, i ASC) AS rn FROM dists) WHERE rn = 1),
       |qd AS (SELECT vec_id AS query_id, j, i, d FROM dists
       |  WHERE $queryPred),
       |contrib AS (SELECT q.query_id, enc.vec_id AS neighbor_id,
       |  q.j, q.d
       |  FROM qd q JOIN enc ON q.j = enc.j AND q.i = enc.code
       |    AND enc.vec_id != q.query_id),
       |tot AS (SELECT query_id, neighbor_id, $adcSum AS approx_dist
       |  FROM contrib GROUP BY 1, 2)""".stripMargin
  }

  /** IVFADC CTE chain (→ relation {p}sl(query_id, neighbor_id): the
    * ADC shortlist) — replicates `Similarity.ivfPqTopK`: coarse cells
    * = first nCells vectors (dense positions in vec_id order), argmax
    * assignment (cos DESC, position ASC), residual r = v − cent[cell],
    * residual codebook = first ksub vectors' residuals w.r.t. their
    * own cells, per-(vector, subspace) argmin codes, query ADC only
    * against its nProbe probed cells. Expects CTEs `e`/`n` upstream;
    * `p` prefixes every CTE name so the chain can coexist with the
    * raw-vector PQ chain inside one query (ann_recall_audit). */
  private def duckIvfPqCtes(nCells: Int, nProbe: Int, m: Int, ksub: Int,
      dims: Int, shortlist: Int, p: String = "",
      // the query-set predicate is a parameter like nCells/nProbe so a
      // call site with a different query DataFrame cannot silently
      // compare against the wrong oracle shortlist
      queryPred: String = "vec_id < 8",
      // the FILTERED (hybrid) search's candidate predicate, written
      // over the `e2` (encoded-posting) alias — applied in contrib,
      // i.e. BEFORE the shortlist window, exactly where searchIvfPq
      // applies its postingsFilter
      candPred: String = "TRUE"): String = {
    val sub = dims / m
    val adcSum = (0 until m)
      .map(j => s"max(CASE WHEN j = $j THEN d END)")
      .reduceLeft((a, b) => s"($a + $b)")
    val resExpr = s"list_transform(list_zip(n.v, ${p}cent.cv), " +
      "x -> CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))"
    s"""${p}cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cp,
       |  v AS cv, nrm AS cnrm FROM n ORDER BY vec_id LIMIT $nCells),
       |${p}ac AS (SELECT n.vec_id, ${p}cent.cp,
       |  ${duckDot("n.v", s"${p}cent.cv")} / (n.nrm * ${p}cent.cnrm)
       |    AS c_cos
       |  FROM n CROSS JOIN ${p}cent),
       |${p}assign AS (SELECT vec_id, cp FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY c_cos DESC, cp ASC) AS rn FROM ${p}ac) WHERE rn = 1),
       |${p}res AS (SELECT n.vec_id, a.cp, $resExpr AS r
       |  FROM n JOIN ${p}assign a ON n.vec_id = a.vec_id
       |  JOIN ${p}cent ON a.cp = ${p}cent.cp),
       |${p}cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS i, r
       |  FROM ${p}res ORDER BY vec_id LIMIT $ksub),
       |${p}sv AS (SELECT vec_id, cp, j, r[(j*$sub+1):((j+1)*$sub)] AS s
       |  FROM ${p}res CROSS JOIN range($m) t(j)),
       |${p}cv AS (SELECT i, j, r[(j*$sub+1):((j+1)*$sub)] AS c
       |  FROM ${p}cb CROSS JOIN range($m) t(j)),
       |${p}dists AS (SELECT s.vec_id, s.cp, s.j, c.i,
       |  (${duckDot("s.s", "s.s")} - CAST(2 AS DOUBLE)
       |    * ${duckDot("s.s", "c.c")} + ${duckDot("c.c", "c.c")}) AS d
       |  FROM ${p}sv s JOIN ${p}cv c ON s.j = c.j),
       |${p}enc AS (SELECT vec_id, cp, j, i AS code FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id, j
       |    ORDER BY d ASC, i ASC) AS rn FROM ${p}dists) WHERE rn = 1),
       |${p}qprobe AS (SELECT vec_id AS query_id, cp FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY c_cos DESC, cp ASC) AS rn FROM ${p}ac
       |  WHERE $queryPred) WHERE rn <= $nProbe),
       |${p}qres AS (SELECT pr.query_id, pr.cp, $resExpr AS r
       |  FROM ${p}qprobe pr JOIN n ON n.vec_id = pr.query_id
       |  JOIN ${p}cent ON pr.cp = ${p}cent.cp),
       |${p}qsv AS (SELECT query_id, cp, j,
       |  r[(j*$sub+1):((j+1)*$sub)] AS s
       |  FROM ${p}qres CROSS JOIN range($m) t(j)),
       |${p}qd AS (SELECT q.query_id, q.cp, q.j, c.i,
       |  (${duckDot("q.s", "q.s")} - CAST(2 AS DOUBLE)
       |    * ${duckDot("q.s", "c.c")} + ${duckDot("c.c", "c.c")}) AS d
       |  FROM ${p}qsv q JOIN ${p}cv c ON q.j = c.j),
       |${p}contrib AS (SELECT q.query_id, e2.vec_id AS neighbor_id,
       |  q.j, q.d
       |  FROM ${p}qd q JOIN ${p}enc e2 ON q.j = e2.j AND q.i = e2.code
       |    AND q.cp = e2.cp AND e2.vec_id != q.query_id
       |    AND ($candPred)),
       |${p}tot AS (SELECT query_id, neighbor_id, $adcSum AS approx_dist
       |  FROM ${p}contrib GROUP BY 1, 2),
       |${p}sl AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id, row_number() OVER (
       |    PARTITION BY query_id
       |    ORDER BY approx_dist ASC, neighbor_id ASC) AS rn
       |  FROM ${p}tot) WHERE rn <= $shortlist)""".stripMargin
  }

  /** Morton/Z-value bit interleave — replicates `LayoutOps.zValue`:
    * bit j of column k lands at position j*ncols + k. */
  private def duckZValue(cols: Seq[String], bits: Int): String =
    cols.zipWithIndex.flatMap { case (c, k) =>
      (0 until bits).map(j =>
        s"((($c >> $j) & 1) << ${j * cols.size + k})")
    }.mkString("(", " | ", ")")

  /** Band `b`'s sign-LSH signature (rowsPerBand bits) — replicates
    * `Similarity.lshNearDupPairs`'s banding of the same plane matrix. */
  private def duckBandSig(vecCol: String, b: Int, rowsPerBand: Int,
      bands: Int, dims: Int): String = {
    val m = graft.operators.Similarity.signMatrix(bands * rowsPerBand, dims)
    (0 until rowsPerBand).map { r =>
      val arr = m(b * rowsPerBand + r).map(v => if (v > 0) "1" else "-1")
        .mkString("[", ",", "]")
      s"(CASE WHEN ${duckDot(vecCol, arr)} > 0 THEN ${1 << r} ELSE 0 END)"
    }.mkString("(", " + ", ")")
  }

  /** 4-hex-digit big-endian value parsed from position `start` (1-based)
    * of hex string column `h` — replicates `Long.parseLong(hex, 16)`. */
  private def duckHex4(h: String, start: Int): String =
    (0 until 4).map { i =>
      s"(strpos('0123456789abcdef', substr($h, ${start + i}, 1)) - 1) * ${1 << (4 * (3 - i))}"
    }.mkString("(", " + ", ")")

  /** Long-form (doc_id, sh) shingle-digest relation — replicates
    * Dedup.docShingles (w=3). */
  /** The engine's deterministic 8-bit coin, DuckDB spelling: value of
    * the first two hex chars of an md5 column (mirrors
    * AnalyticsOps.u8 — ascii arithmetic only, so the two engines agree
    * bit-for-bit). `h` is the SQL expression holding the md5 hex. */
  private def duckU8(h: String): String =
    s"(ascii(substr($h, 1, 1)) - CASE WHEN ascii(substr($h, 1, 1)) >= 97" +
      s" THEN 87 ELSE 48 END) * 16 + ascii(substr($h, 2, 1))" +
      s" - CASE WHEN ascii(substr($h, 2, 1)) >= 97 THEN 87 ELSE 48 END"

  private val duckShingles =
    """toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
      |  FROM documents),
      |shl AS (SELECT doc_id, unnest(list_distinct(
      |  CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
      |  ELSE list_transform(range(1, len(w)-1),
      |    i -> array_to_string(w[i:i+2], ' ')) END)) AS s FROM toks),
      |shm AS (SELECT doc_id, md5(s) AS sh FROM shl)""".stripMargin

  /** Jaccard-over-candidates CTEs (→ relation jac(id_a, id_b, jaccard)),
    * from the shm relation. */
  private def duckJaccardCtes(candidates: String): String =
    s"""sizes AS (SELECT doc_id, count(*) AS n_sh FROM shm GROUP BY doc_id),
       |common AS (SELECT c.ia, c.ib, count(*) AS n_common
       |  FROM ($candidates) c
       |  JOIN shm a ON c.ia = a.doc_id
       |  JOIN shm b ON c.ib = b.doc_id AND a.sh = b.sh
       |  GROUP BY c.ia, c.ib),
       |jac AS (SELECT id_a, id_b, jaccard FROM (
       |  SELECT common.ia AS id_a, common.ib AS id_b,
       |   CAST(n_common AS DOUBLE) /
       |     CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
       |  FROM common
       |  JOIN sizes sa ON common.ia = sa.doc_id
       |  JOIN sizes sb ON common.ib = sb.doc_id))""".stripMargin

  /** Jaccard over candidate pairs, from the shm relation. */
  private def duckJaccard(candidates: String, threshold: Double): String =
    s"""${duckJaccardCtes(candidates)}
       |SELECT id_a, id_b, jaccard FROM jac
       |WHERE jaccard >= $threshold ORDER BY id_a, id_b""".stripMargin

  /** 32-bit shingle simhash signature CTEs (→ relation sig(doc_id, sig))
    * — replicates Dedup.simhashSignatures. */
  private val duckSimhashCtes: String = {
    val sums = (0 until 32).map { j =>
      val pos = j / 4 + 1
      val k = 3 - (j % 4)
      s"CAST(SUM((((strpos('0123456789abcdef', substr(sh, $pos, 1)) - 1) >> $k) % 2) * 2 - 1) AS BIGINT) AS s$j"
    }.mkString(", ")
    val bits = (0 until 32).map { j =>
      s"(CASE WHEN s$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")
    s"""sums AS (SELECT doc_id, $sums FROM shm GROUP BY doc_id),
       |sig AS (SELECT doc_id, $bits AS sig FROM sums)""".stripMargin
  }

  private val duckTokens =
    "string_split_regex(trim(lower(text)), '\\s+')"

  def oracleSql: Map[String, String] = Map(
    "s1_sessions_scan" ->
      """SELECT 'shop-' || c_custkey AS shop, c_name AS access_token,
        | c_mktsegment AS segment, 'shop-' || c_custkey AS session_id
        | FROM customer
        | WHERE c_name IS NOT NULL AND c_name != ''
        | ORDER BY shop""".stripMargin,

    "p2_x9_shop_normalization" ->
      """WITH s AS (SELECT c_custkey, CASE WHEN c_custkey % 2 = 0
        |  THEN 'shop-' || c_custkey || '.myshopify.com'
        |  ELSE 'shop-' || c_custkey END AS shop_raw FROM customer)
        |SELECT c_custkey, shop_raw,
        | regexp_replace(shop_raw, '\.myshopify\.com$', '') AS shop_norm,
        | CASE WHEN contains(shop_raw, '.myshopify.com') THEN shop_raw
        |  ELSE shop_raw || '.myshopify.com' END AS shop_full
        |FROM s ORDER BY c_custkey""".stripMargin,

    "l1_sample_head" ->
      """SELECT 'shop-' || c_custkey AS shop, c_mktsegment AS segment
        |FROM customer ORDER BY shop LIMIT 5""".stripMargin,

    "x_cast_suite" ->
      """SELECT o_orderkey,
        | CAST(o_orderkey AS VARCHAR) AS key_str,
        | CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS key_roundtrip,
        | CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS date_iso,
        | CAST(o_orderdate AS DATE) AS date_typed,
        | CAST(o_totalprice > CAST(100000 AS DOUBLE) AS INTEGER) AS big_flag
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "f2_daily_event_filter" ->
      """SELECT event_id, user_id, ts FROM events
        | WHERE event_type = 'view' AND CAST(ts AS DATE) = DATE '2024-01-15'
        |  AND user_id IS NOT NULL
        | ORDER BY event_id""".stripMargin,

    "a1_daily_user_counts" ->
      s"SELECT * FROM ($pvCte) ORDER BY user_id",

    "a2_totals" ->
      s"""SELECT record_count, total_page_views,
         | CAST(total_page_views AS DOUBLE) / 1000000 * 10 AS total_billing_amount
         | FROM (SELECT count(*) AS record_count,
         |  CAST(SUM(page_views) AS BIGINT) AS total_page_views
         |  FROM ($billCte))""".stripMargin,

    "a4_status_histogram" ->
      s"""SELECT count(CASE WHEN billing_amount > 0 THEN 1 END) AS n_pending,
         | count(CASE WHEN billing_amount <= 0 THEN 1 END) AS n_skipped
         | FROM ($billCte)""".stripMargin,

    "a5_latest_event_state" ->
      """SELECT user_id, event_date, event_id, event_type, value FROM (
        | SELECT user_id, CAST(ts AS DATE) AS event_date, event_id,
        |  event_type, value,
        |  row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |   ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) WHERE rn = 1
        | ORDER BY user_id, event_date""".stripMargin,

    "j1_billing_join" ->
      s"SELECT * FROM ($billCte) ORDER BY shop_key",

    // exact decimal money: views(14,0) × perView(22,16) exact product,
    // one HALF_UP cast to (12,2) — DuckDB's away-from-zero tie rule
    // equals half-up on this non-negative domain
    "x6_charge_decimal" ->
      s"""WITH pv AS ($pvCte)
         |SELECT c_custkey AS shop_key,
         | COALESCE(event_count, 0) AS page_views,
         | CAST(CAST(CAST(COALESCE(event_count, 0) AS DECIMAL(14,0))
         |   * CAST(0.00001234 AS DECIMAL(22,16)) AS DECIMAL(12,2))
         |  AS DOUBLE) AS amount_dec
         |FROM customer LEFT JOIN pv ON c_custkey = user_id
         |ORDER BY shop_key""".stripMargin,

    "j3_enrich_outcomes" ->
      s"""WITH bill AS ($billCte),
         |outcomes AS (SELECT shop_key AS o_key,
         | CASE WHEN shop_key % 10 = 3 THEN 'failed' ELSE 'success' END AS o_status,
         | CASE WHEN shop_key % 10 = 3 THEN NULL
         |  ELSE 'ch-' || shop_key END AS charge_id,
         | CASE WHEN shop_key % 10 = 3 THEN 'Rate limit exceeded'
         |  ELSE NULL END AS error
         | FROM bill WHERE billing_amount > 0)
         |SELECT b.shop_key, b.page_views,
         | COALESCE(o.o_status, CASE WHEN b.billing_amount <= 0
         |  THEN 'skipped' ELSE 'pending' END) AS status,
         | o.charge_id, o.error
         |FROM bill b LEFT JOIN outcomes o ON b.shop_key = o.o_key
         |ORDER BY shop_key""".stripMargin,

    "join_semi_active_shops" ->
      s"""SELECT c_custkey FROM customer
         | WHERE EXISTS (SELECT 1 FROM ($pvCte) pv WHERE pv.user_id = c_custkey)
         | ORDER BY c_custkey""".stripMargin,

    "join_anti_inactive_shops" ->
      s"""SELECT c_custkey FROM customer
         | WHERE NOT EXISTS (SELECT 1 FROM ($pvCte) pv WHERE pv.user_id = c_custkey)
         | ORDER BY c_custkey""".stripMargin,

    "f5_split_routing" ->
      s"""WITH bill AS ($billCte)
         |SELECT * FROM (
         | SELECT shop_key, page_views, 'pending' AS status FROM bill
         |  WHERE billing_amount > 0
         | UNION ALL
         | SELECT shop_key, page_views, 'skipped' AS status FROM bill
         |  WHERE billing_amount <= 0)
         |ORDER BY shop_key""".stripMargin,

    "setop_nation_coverage" ->
      """SELECT * FROM (
        | SELECT 'both' AS tag, nationkey FROM (
        |  SELECT DISTINCT c_nationkey AS nationkey FROM customer
        |  INTERSECT
        |  SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
        | UNION ALL
        | SELECT 'cust_only' AS tag, nationkey FROM (
        |  SELECT DISTINCT c_nationkey AS nationkey FROM customer
        |  EXCEPT
        |  SELECT DISTINCT s_nationkey AS nationkey FROM supplier))
        |ORDER BY tag, nationkey""".stripMargin,

    "l2_top_shops" ->
      s"""SELECT shop_key, page_views, billing_amount FROM ($billCte)
         | WHERE page_views > 0
         | ORDER BY billing_amount DESC, shop_key ASC LIMIT 10""".stripMargin,

    "l3_recent_events" ->
      """SELECT event_id, user_id, event_type, ts FROM events
        | ORDER BY ts DESC, event_id DESC LIMIT 10""".stripMargin,

    "x5_jst_business_date" ->
      """SELECT CAST(ts + INTERVAL 9 HOUR AS DATE) AS jst_date,
        | count(*) AS n FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "x13_json_props" ->
      """SELECT event_id,
        | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        | FROM events ORDER BY event_id""".stripMargin,

    "x_scalar_suite" ->
      """SELECT p_partkey, upper(p_name) AS name_upper,
        | CAST(length(p_name) AS BIGINT) AS name_len,
        | substr(p_brand, 1, 6) AS brand_prefix,
        | p_size * 2 AS size_x2,
        | abs(p_retailprice - CAST(1000 AS DOUBLE)) AS price_delta,
        | CASE WHEN p_size >= 25 THEN 'large' WHEN p_size >= 10 THEN 'medium'
        |  ELSE 'small' END AS size_class
        | FROM part ORDER BY p_partkey""".stripMargin,

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS sum_disc_price,
        | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(22,6))) AS DOUBLE) AS sum_charge,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_price,
        | CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_shipping_priority" ->
      """SELECT l_orderkey,
        | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue,
        | o_orderdate, o_orderpriority
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        | AND l_orderkey = o_orderkey
        | AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
        | AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""".stripMargin,

    "q5_local_supplier_volume" ->
      """SELECT n_name,
        | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        | AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        | AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        | AND r_name = 'ASIA'
        | AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        | AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "agg_nation_balance" ->
      """SELECT r_name, n_name, count(*) AS n_customers,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance
        |FROM customer, nation, region
        |WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "cube_lineitem_counts" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST,
        | l_linestatus ASC NULLS FIRST""".stripMargin,

    "window_order_rank" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        | SELECT o_custkey, o_orderkey,
        |  row_number() OVER (PARTITION BY o_custkey
        |   ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders) WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,

    "window_running_total" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |  AS running_spend
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,

    "stream_tumbling_counts" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        | count(*) AS n FROM events
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the native feed source's windowed run must equal the batch
    // aggregate of the same slice — the stream IS the table
    "stream_log_feed" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |   AS sum_value
        |FROM events WHERE event_id <= 20000
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
        | count(*) AS dup_count
        |FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin,

    "text_token_stats" ->
      """SELECT doc_id,
        | CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens,
        | CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS n_bpe_tokens,
        | CAST(length(text) AS BIGINT) AS n_chars_m,
        | CAST(len(regexp_extract_all(text, '[\.,;:!\?]')) AS BIGINT) AS n_punct
        |FROM documents ORDER BY doc_id""".stripMargin,

    "mm_payload_metadata" ->
      """SELECT doc_id AS media_id,
        | CAST(strlen(text) AS BIGINT) AS byte_len,
        | md5(text) AS payload_md5,
        | 'image/fake' AS media_type
        |FROM documents ORDER BY media_id""".stripMargin,

    "mm_payload_dedup" ->
      """WITH pay AS (SELECT doc_id AS media_id, text FROM documents
        | UNION ALL SELECT doc_id + 100000, text FROM documents
        |  WHERE doc_id % 7 = 0)
        |SELECT md5(text) AS payload_md5,
        | CAST(count(*) AS BIGINT) AS n_copies,
        | min(media_id) AS keeper_id,
        | CAST(min(strlen(text)) AS INTEGER) AS byte_len
        |FROM pay GROUP BY 1 HAVING count(*) >= 2
        |ORDER BY payload_md5""".stripMargin,

    "mm_frame_sample" ->
      """SELECT media_id, n_frames, unnest(range(0, greatest(n_frames, 1), 10)) AS frame_idx
        |FROM (SELECT doc_id AS media_id,
        |  CAST(floor(CAST(strlen(text) AS DOUBLE) / 16) AS BIGINT) AS n_frames
        |  FROM documents)
        |ORDER BY media_id, frame_idx""".stripMargin,

    // ---- LLM-pipeline extension oracles ----

    "text_quality" -> {
      val stops = TextOps.EnglishStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH t AS (SELECT doc_id, text, $duckTokens AS toks FROM documents),
         |c AS (SELECT doc_id,
         |  CAST(len(toks) AS DOUBLE) AS n,
         |  CAST(length(text) AS DOUBLE) AS chars,
         |  CAST(len(regexp_extract_all(text, '[\\.,;:!\\?]')) AS DOUBLE) AS punct,
         |  CAST(len(list_filter(toks, tk -> list_contains($stops, tk))) AS DOUBLE) AS stop
         |  FROM t)
         |SELECT doc_id,
         | (CASE WHEN n >= 5 AND n <= 100000 THEN 1e0 ELSE 0e0 END) * 0.25e0
         | + (CASE WHEN chars / greatest(n, 1e0) >= 2e0
         |      AND chars / greatest(n, 1e0) <= 12e0 THEN 1e0 ELSE 0e0 END) * 0.25e0
         | + (CASE WHEN punct / greatest(chars, 1e0) <= 0.2e0 THEN 1e0 ELSE 0e0 END) * 0.25e0
         | + least(stop / greatest(n, 1e0) * 5e0, 1e0) * 0.25e0 AS quality
         |FROM c ORDER BY doc_id""".stripMargin
    },

    "text_langid" -> {
      val hitCols = TextOps.LangMarkers.map { case (lang, words) =>
        val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter(toks, tk -> list_contains($lst, tk))) AS h_$lang"
      }.mkString(", ")
      val langs = TextOps.LangMarkers.map(_._1)
      val m = langs.map(l => s"h_$l").mkString("greatest(", ", ", ")")
      val cases = langs.map(l => s"WHEN h_$l = m THEN '$l'").mkString(" ")
      s"""WITH t AS (SELECT doc_id, lang, $duckTokens AS toks FROM documents),
         |h AS (SELECT doc_id, lang, $hitCols FROM t),
         |hm AS (SELECT *, $m AS m FROM h)
         |SELECT doc_id,
         | CASE WHEN m <= 0 THEN 'und' $cases END AS lang_pred, lang
         |FROM hm ORDER BY doc_id""".stripMargin
    },

    // classifier-eval replay: the langid oracle's prediction block,
    // confusion counts, exact HUGEINT products, SEPARATE square roots
    // (sqrt(a)*sqrt(b) != sqrt(a*b) in IEEE — and a*b would overflow)
    "text_classifier_eval" -> {
      val hitCols = TextOps.LangMarkers.map { case (lang, words) =>
        val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter(toks, tk -> list_contains($lst, tk))) AS h_$lang"
      }.mkString(", ")
      val langs = TextOps.LangMarkers.map(_._1)
      val m = langs.map(l => s"h_$l").mkString("greatest(", ", ", ")")
      val cases = langs.map(l => s"WHEN h_$l = m THEN '$l'").mkString(" ")
      s"""WITH t AS (SELECT doc_id, lang, $duckTokens AS toks FROM documents),
         |h AS (SELECT doc_id, lang, $hitCols FROM t),
         |hm AS (SELECT *, $m AS m FROM h),
         |pr AS (SELECT lang AS t,
         |  CASE WHEN m <= 0 THEN 'und' $cases END AS p FROM hm
         | WHERE lang IS NOT NULL),
         |cm AS (SELECT t, p, CAST(count(*) AS BIGINT) AS n FROM pr
         | WHERE p IS NOT NULL GROUP BY 1, 2),
         |tc AS (SELECT t AS cls, CAST(SUM(n) AS BIGINT) AS t_k
         | FROM cm GROUP BY 1),
         |pc AS (SELECT p AS cls, CAST(SUM(n) AS BIGINT) AS p_k
         | FROM cm GROUP BY 1),
         |tpc AS (SELECT t AS cls, n AS tp FROM cm WHERE t = p),
         |per AS (SELECT coalesce(tc.cls, pc.cls) AS cls,
         |  coalesce(t_k, 0) AS t_k, coalesce(p_k, 0) AS p_k,
         |  coalesce(tp, 0) AS tp
         | FROM tc FULL JOIN pc ON tc.cls = pc.cls
         | LEFT JOIN tpc ON coalesce(tc.cls, pc.cls) = tpc.cls),
         |tot AS (SELECT CAST(SUM(tp) AS BIGINT) AS corr,
         |  CAST(SUM(t_k) AS BIGINT) AS s,
         |  SUM(CAST(p_k AS HUGEINT) * t_k) AS spt,
         |  SUM(CAST(p_k AS HUGEINT) * p_k) AS sp2,
         |  SUM(CAST(t_k AS HUGEINT) * t_k) AS st2 FROM per),
         |hd AS (SELECT
         |  CAST(corr AS DOUBLE) / CAST(s AS DOUBLE) AS accuracy,
         |  CASE WHEN CAST(s AS HUGEINT) * s - sp2 > 0
         |    AND CAST(s AS HUGEINT) * s - st2 > 0
         |   THEN CAST(CAST(CAST(corr AS HUGEINT) * s - spt AS VARCHAR)
         |       AS DOUBLE)
         |     / (sqrt(CAST(CAST(CAST(s AS HUGEINT) * s - sp2
         |          AS VARCHAR) AS DOUBLE))
         |        * sqrt(CAST(CAST(CAST(s AS HUGEINT) * s - st2
         |          AS VARCHAR) AS DOUBLE)))
         |   ELSE CAST('nan' AS DOUBLE) END AS mcc FROM tot)
         |SELECT cls, t_k, p_k, tp,
         | CASE WHEN p_k > 0 THEN CAST(tp AS DOUBLE) / CAST(p_k AS DOUBLE)
         |  ELSE CAST('nan' AS DOUBLE) END AS precision,
         | CASE WHEN t_k > 0 THEN CAST(tp AS DOUBLE) / CAST(t_k AS DOUBLE)
         |  ELSE CAST('nan' AS DOUBLE) END AS recall,
         | CASE WHEN p_k + t_k > 0 THEN
         |   CAST(2 * tp AS DOUBLE) / CAST(p_k + t_k AS DOUBLE)
         |  ELSE CAST('nan' AS DOUBLE) END AS f1,
         | accuracy, mcc
         |FROM per CROSS JOIN hd ORDER BY cls""".stripMargin
    },

    "text_fingerprint" ->
      s"""SELECT doc_id,
         | md5(array_to_string(list_sort(list_distinct($duckTokens)), ' ')) AS fingerprint,
         | list_reduce(list_prepend(CAST(0 AS BIGINT),
         |   list_transform(
         |     string_split(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ''),
         |     c -> CAST(unicode(c) AS BIGINT))),
         |   (a, b) -> (a * 31 + b) % 2147483647) AS rolling_hash
         |FROM documents ORDER BY doc_id""".stripMargin,

    "text_code_detect" ->
      """SELECT doc_id,
        | CAST(length(text) AS INTEGER) AS n_chars,
        | CAST(len(regexp_extract_all(text, '[{}()=;<>]')) AS INTEGER)
        |   AS symbol_hits,
        | CAST(len(regexp_extract_all(text, chr(10) || '(  |' ||
        |   chr(9) || ')')) AS INTEGER) AS indent_hits,
        | CAST(len(list_filter(
        |   string_split_regex(trim(lower(text)), '\s+'),
        |   t -> t IN ('def','class','return','import','if','else',
        |     'for','while','function','var'))) AS INTEGER) AS kw_hits,
        | CAST(len(regexp_extract_all(text, '[{}()=;<>]')) AS DOUBLE) /
        |  CAST(greatest(length(text), 1) AS DOUBLE) AS symbol_ratio,
        | (CAST(len(regexp_extract_all(text, '[{}()=;<>]')) AS DOUBLE) /
        |  CAST(greatest(length(text), 1) AS DOUBLE) > 0.04
        |  AND len(list_filter(
        |   string_split_regex(trim(lower(text)), '\s+'),
        |   t -> t IN ('def','class','return','import','if','else',
        |     'for','while','function','var'))) >= 1) AS is_code
        |FROM documents ORDER BY doc_id""".stripMargin,

    // word deg/freq quantized to 1e-9 fixed point before the phrase
    // sum; ranking on the integer score so no double ever orders rows
    "text_keywords" -> {
      val stops = TextOps.EnglishStopwords.mkString("'", "', '", "'")
      s"""WITH tk AS (SELECT doc_id,
         |  string_split_regex(trim(lower(text)), '\\s+') AS toks
         | FROM documents),
         |ex AS (SELECT doc_id,
         |  CAST(unnest(generate_series(1, len(toks))) AS BIGINT) AS pos,
         |  unnest(toks) AS w FROM tk),
         |fl AS (SELECT doc_id, pos, w,
         |  (w IN ($stops) OR length(w) = 0) AS is_stop FROM ex),
         |gp AS (SELECT doc_id, pos, w, is_stop,
         |  SUM(CASE WHEN is_stop THEN 1 ELSE 0 END) OVER (
         |   PARTITION BY doc_id ORDER BY pos) AS grp FROM fl),
         |words AS (SELECT doc_id, grp, pos, w FROM gp WHERE NOT is_stop),
         |ph AS (SELECT doc_id, grp,
         |  string_agg(w, ' ' ORDER BY pos) AS phrase,
         |  CAST(count(*) AS BIGINT) AS n_words
         | FROM words GROUP BY 1, 2),
         |wst AS (SELECT wo.w, CAST(count(*) AS BIGINT) AS freq,
         |  CAST(SUM(p.n_words) AS BIGINT) AS deg
         | FROM words wo JOIN ph p
         |  ON wo.doc_id = p.doc_id AND wo.grp = p.grp GROUP BY 1),
         |wq AS (SELECT w, CAST(floor(CAST(deg AS DOUBLE)
         |  / CAST(freq AS DOUBLE) * 1e9) AS BIGINT) AS fp FROM wst),
         |ps AS (SELECT wo.doc_id, wo.grp,
         |  CAST(SUM(wq.fp) AS BIGINT) AS score_fp
         | FROM words wo JOIN wq ON wo.w = wq.w GROUP BY 1, 2),
         |j AS (SELECT ph.doc_id, ph.phrase, ph.n_words, ps.score_fp
         | FROM ph JOIN ps ON ph.doc_id = ps.doc_id AND ph.grp = ps.grp),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
         |  ORDER BY score_fp DESC, phrase ASC) AS INTEGER) AS rank
         | FROM j)
         |SELECT doc_id, rank, phrase, n_words,
         | CAST(score_fp AS DOUBLE) / 1e9 AS score
         |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin
    },

    // exact-integer counts; the likelihood ratio is two IEEE divisions
    // and a quotient in a pinned order — no log, no last-ulp drift
    "text_naive_bayes" ->
      """WITH tok AS (SELECT lang AS cls,
        |  unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        | FROM documents),
        |lt AS (SELECT cls, w, CAST(count(*) AS BIGINT) AS c_lt
        | FROM tok GROUP BY 1, 2),
        |l AS (SELECT cls, CAST(SUM(c_lt) AS BIGINT) AS t_l
        | FROM lt GROUP BY 1),
        |tt AS (SELECT w, CAST(SUM(c_lt) AS BIGINT) AS c_t
        | FROM lt GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v,
        |  CAST(SUM(c_lt) AS BIGINT) AS t_all FROM lt),
        |sc AS (SELECT lt.cls, lt.w, lt.c_lt,
        |  (CAST(lt.c_lt + 1 AS DOUBLE) / CAST(l.t_l + v.v AS DOUBLE)) /
        |  (CAST(tt.c_t - lt.c_lt + 1 AS DOUBLE) /
        |   CAST(v.t_all - l.t_l + v.v AS DOUBLE)) AS ratio
        | FROM lt JOIN tt ON lt.w = tt.w JOIN l ON lt.cls = l.cls
        | CROSS JOIN v WHERE lt.c_lt >= 5),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY cls
        |  ORDER BY ratio DESC, w ASC) AS INTEGER) AS rank FROM sc)
        |SELECT cls, rank, w AS token, c_lt, ratio FROM r
        |WHERE rank <= 5 ORDER BY cls, rank""".stripMargin,

    // positional (not distinct) 4-grams; md5 strings compare bytewise
    // identically in both engines, so window-min selection is exact
    "text_winnowing" ->
      """WITH toks AS (SELECT doc_id,
        |  string_split_regex(trim(lower(text)), '\s+') AS w
        | FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(w) < 4
        |  THEN [array_to_string(w, ' ')]
        |  ELSE list_transform(range(1, len(w)-2),
        |    i -> array_to_string(w[i:i+3], ' ')) END AS grams FROM toks),
        |h AS (SELECT doc_id, list_transform(grams, g -> md5(g)) AS hashes
        | FROM g),
        |f AS (SELECT doc_id, len(hashes) AS n_grams,
        |  greatest(1, len(hashes)-3) AS n_windows,
        |  list_distinct(list_transform(
        |    range(1, greatest(1, len(hashes)-3)+1),
        |    j -> list_min(hashes[j:j+3]))) AS fps FROM h)
        |SELECT doc_id, CAST(n_grams AS INTEGER) AS n_grams,
        | CAST(n_windows AS INTEGER) AS n_windows,
        | CAST(len(fps) AS INTEGER) AS n_fp,
        | list_min(fps) AS fp_min, list_max(fps) AS fp_max
        |FROM f ORDER BY doc_id""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""WITH $duckShingles,
         |${duckJaccard(
           "SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib FROM shm a " +
           "JOIN shm b ON a.sh = b.sh AND a.doc_id < b.doc_id", 0.5)}""".stripMargin,

    // exact join ⇒ identical result to the brute-force inverted index
    "dedup_prefix_jaccard" ->
      s"""WITH $duckShingles,
         |${duckJaccard(
           "SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib FROM shm a " +
           "JOIN shm b ON a.sh = b.sh AND a.doc_id < b.doc_id", 0.5)}""".stripMargin,

    "dedup_clusters" ->
      s"""WITH RECURSIVE $duckShingles,
         |${duckJaccardCtes(
           "SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib FROM shm a " +
           "JOIN shm b ON a.sh = b.sh AND a.doc_id < b.doc_id")},
         |e AS (SELECT id_a AS u, id_b AS v FROM jac WHERE jaccard >= 0.5),
         |und AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
         |r(a, b) AS (
         |  SELECT u, v FROM und
         |  UNION
         |  SELECT r.a, und.v FROM r JOIN und ON r.b = und.u
         |)
         |SELECT a AS doc_id, least(a, min(b)) AS cluster_rep
         |FROM r GROUP BY a ORDER BY doc_id""".stripMargin,

    "dedup_keep_list" ->
      s"""WITH RECURSIVE $duckShingles,
         |${duckJaccardCtes(
           "SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib FROM shm a " +
           "JOIN shm b ON a.sh = b.sh AND a.doc_id < b.doc_id")},
         |e AS (SELECT id_a AS u, id_b AS v FROM jac WHERE jaccard >= 0.5),
         |und AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
         |r(a, b) AS (
         |  SELECT u, v FROM und
         |  UNION
         |  SELECT r.a, und.v FROM r JOIN und ON r.b = und.u
         |),
         |reps AS (SELECT a AS doc_id, least(a, min(b)) AS rep
         |  FROM r GROUP BY a)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM reps WHERE doc_id != rep)
         |ORDER BY doc_id""".stripMargin,

    // leakage-free split: same cluster reps as dedup_clusters,
    // singletons are their own cluster, split = integer thresholds at
    // the md5 coin of the REP (so near-dups can never straddle splits)
    "pipe_split_leakage" ->
      s"""WITH RECURSIVE $duckShingles,
         |${duckJaccardCtes(
           "SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib FROM shm a " +
           "JOIN shm b ON a.sh = b.sh AND a.doc_id < b.doc_id")},
         |e AS (SELECT id_a AS u, id_b AS v FROM jac WHERE jaccard >= 0.5),
         |und AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
         |r(a, b) AS (
         |  SELECT u, v FROM und
         |  UNION
         |  SELECT r.a, und.v FROM r JOIN und ON r.b = und.u
         |),
         |reps AS (SELECT a AS doc_id, least(a, min(b)) AS rep
         |  FROM r GROUP BY a),
         |j AS (SELECT d.doc_id, coalesce(reps.rep, d.doc_id) AS rep
         | FROM documents d LEFT JOIN reps ON d.doc_id = reps.doc_id),
         |h AS (SELECT doc_id, rep,
         |  md5('split:' || CAST(rep AS VARCHAR)) AS hh FROM j),
         |u AS (SELECT doc_id, rep, ${duckU8("hh")} AS u8 FROM h)
         |SELECT doc_id, rep,
         | CASE WHEN u8 < 204 THEN 'train' WHEN u8 < 230 THEN 'val'
         |  ELSE 'test' END AS split
         |FROM u ORDER BY doc_id""".stripMargin,

    "pipe_training_set" -> {
      val stops = TextOps.EnglishStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH RECURSIVE $duckShingles,
         |${duckJaccardCtes(
           "SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib FROM shm a " +
           "JOIN shm b ON a.sh = b.sh AND a.doc_id < b.doc_id")},
         |e AS (SELECT id_a AS u, id_b AS v FROM jac WHERE jaccard >= 0.5),
         |und AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
         |r(a, b) AS (
         |  SELECT u, v FROM und
         |  UNION
         |  SELECT r.a, und.v FROM r JOIN und ON r.b = und.u
         |),
         |reps AS (SELECT a AS doc_id, least(a, min(b)) AS rep
         |  FROM r GROUP BY a),
         |kept AS (SELECT lang, doc_id, text FROM documents
         |  WHERE doc_id NOT IN (SELECT doc_id FROM reps WHERE doc_id != rep)),
         |t2 AS (SELECT lang, doc_id, text, $duckTokens AS toks2 FROM kept),
         |c2 AS (SELECT lang, doc_id,
         |  CAST(len(toks2) AS DOUBLE) AS n,
         |  CAST(len(toks2) AS BIGINT) AS n_tokens,
         |  CAST(length(text) AS DOUBLE) AS chars,
         |  CAST(len(regexp_extract_all(text, '[\\.,;:!\\?]')) AS DOUBLE) AS punct,
         |  CAST(len(list_filter(toks2, tk -> list_contains($stops, tk))) AS DOUBLE) AS stop
         |  FROM t2),
         |q2 AS (SELECT lang, doc_id, n_tokens,
         | (CASE WHEN n >= 5 AND n <= 100000 THEN 1e0 ELSE 0e0 END) * 0.25e0
         | + (CASE WHEN chars / greatest(n, 1e0) >= 2e0
         |      AND chars / greatest(n, 1e0) <= 12e0 THEN 1e0 ELSE 0e0 END) * 0.25e0
         | + (CASE WHEN punct / greatest(chars, 1e0) <= 0.2e0 THEN 1e0 ELSE 0e0 END) * 0.25e0
         | + least(stop / greatest(n, 1e0) * 5e0, 1e0) * 0.25e0 AS quality
         |FROM c2),
         |f AS (SELECT lang, doc_id, n_tokens FROM q2 WHERE quality >= 0.5e0),
         |p AS (SELECT lang, doc_id, n_tokens,
         |  CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cum_tokens FROM f)
         |SELECT lang, doc_id, n_tokens, cum_tokens,
         | CAST(floor(CAST(cum_tokens - n_tokens AS DOUBLE) / 512e0)
         |   AS BIGINT) AS seq_id,
         | cum_tokens - n_tokens
         |   - CAST(floor(CAST(cum_tokens - n_tokens AS DOUBLE) / 512e0)
         |       AS BIGINT) * 512 AS seq_offset
         |FROM p ORDER BY lang, doc_id""".stripMargin
    },

    "dedup_minhash_lsh" -> {
      val mh = (0 until 8).map(i => s"min(md5('$i|' || sh)) AS m$i").mkString(", ")
      val bands = (0 until 4).map(b =>
        s"SELECT doc_id, $b AS band, md5(m${2 * b} || '|' || m${2 * b + 1}) AS bh FROM mh")
        .mkString(" UNION ALL ")
      s"""WITH $duckShingles,
         |mh AS (SELECT doc_id, $mh FROM shm GROUP BY doc_id),
         |bands AS ($bands),
         |cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
         |  FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |${duckJaccard("SELECT ia, ib FROM cand", 0.5)}""".stripMargin
    },

    "dedup_simhash_signatures" ->
      s"""WITH $duckShingles,
         |$duckSimhashCtes
         |SELECT doc_id, sig FROM sig ORDER BY doc_id""".stripMargin,

    "dedup_simhash_pairs" ->
      s"""WITH $duckShingles,
         |$duckSimhashCtes
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         | CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,

    // both rank relations replayed exactly; hits are integer pairs
    "ann_matryoshka_audit" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(${duckDot("v", "v")}) AS nrm
         |  FROM e),
         |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |  ${duckDot("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
         |  FROM n q JOIN n c ON q.vec_id < 8 AND c.vec_id != q.vec_id),
         |r AS (SELECT query_id, neighbor_id, row_number() OVER (
         |  PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC)
         |   AS rank FROM p),
         |et AS (SELECT vec_id, v[1:16] AS v FROM e),
         |nt AS (SELECT vec_id, v, sqrt(${duckDot("v", "v")}) AS nrm
         |  FROM et),
         |pt AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |  ${duckDot("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
         |  FROM nt q JOIN nt c ON q.vec_id < 8 AND c.vec_id != q.vec_id),
         |rt AS (SELECT query_id, neighbor_id, row_number() OVER (
         |  PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC)
         |   AS rank FROM pt),
         |h AS (SELECT r.query_id, CAST(count(*) AS BIGINT) AS hits16
         |  FROM r JOIN rt ON r.query_id = rt.query_id
         |   AND r.neighbor_id = rt.neighbor_id
         |  WHERE r.rank <= 5 AND rt.rank <= 5 GROUP BY 1)
         |SELECT q.vec_id AS query_id,
         | COALESCE(h.hits16, 0) AS hits16,
         | CAST(COALESCE(h.hits16, 0) AS DOUBLE) / CAST(5 AS DOUBLE)
         |   AS recall16
         |FROM (SELECT vec_id FROM embeddings WHERE vec_id < 8) q
         |LEFT JOIN h ON q.vec_id = h.query_id
         |ORDER BY query_id""".stripMargin,

    "ann_bruteforce_topk" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(${duckDot("v", "v")}) AS nrm FROM e),
         |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |  ${duckDot("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
         |  FROM n q JOIN n c ON q.vec_id < 8 AND c.vec_id != q.vec_id),
         |r AS (SELECT query_id, neighbor_id, cos, row_number() OVER (
         |  PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM p)
         |SELECT query_id, rank, neighbor_id, cos FROM r WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    // triplets: one ranked pass per (query, same-label flag), folded
    // by conditional max — replicates tripletMining
    "emb_triplets" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT vec_id, label, v, sqrt(${duckDot("v", "v")}) AS nrm FROM e),
         |p AS (SELECT q.vec_id AS query_id, q.label AS query_label,
         |  c.vec_id AS neighbor_id, (c.label = q.label) AS is_pos,
         |  ${duckDot("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
         |  FROM n q JOIN n c ON q.vec_id < 8 AND c.vec_id != q.vec_id),
         |r AS (SELECT query_id, query_label, neighbor_id, is_pos, cos,
         |  row_number() OVER (PARTITION BY query_id, is_pos
         |   ORDER BY cos DESC, neighbor_id ASC) AS rk FROM p),
         |w AS (SELECT query_id, query_label,
         |  max(CASE WHEN is_pos THEN neighbor_id END) AS pos_id,
         |  max(CASE WHEN is_pos THEN cos END) AS pos_cos,
         |  max(CASE WHEN NOT is_pos THEN neighbor_id END) AS neg_id,
         |  max(CASE WHEN NOT is_pos THEN cos END) AS neg_cos
         |  FROM r WHERE rk = 1 GROUP BY 1, 2)
         |SELECT query_id, query_label, pos_id, pos_cos, neg_id, neg_cos,
         | pos_cos - neg_cos AS margin
         |FROM w WHERE pos_id IS NOT NULL AND neg_id IS NOT NULL
         |ORDER BY query_id""".stripMargin,

    // hard negatives: brute-force pairs restricted to label mismatch
    "emb_hard_negatives" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT vec_id, label, v, sqrt(${duckDot("v", "v")}) AS nrm FROM e),
         |p AS (SELECT q.vec_id AS query_id, q.label AS query_label,
         |  c.vec_id AS neighbor_id, c.label AS neighbor_label,
         |  ${duckDot("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
         |  FROM n q JOIN n c ON q.vec_id < 8 AND c.vec_id != q.vec_id
         |   AND c.label != q.label),
         |r AS (SELECT query_id, query_label, neighbor_id, neighbor_label,
         |  cos, row_number() OVER (
         |  PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM p)
         |SELECT query_id, query_label, rank, neighbor_id, neighbor_label,
         | cos FROM r WHERE rank <= 3
         |ORDER BY query_id, rank""".stripMargin,

    "ann_lsh_topk" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(${duckDot("v", "v")}) AS nrm FROM e),
         |${duckLshMultiCtes(planes = 6, tables = 4)},
         |r AS (SELECT query_id, neighbor_id, cos, row_number() OVER (
         |  PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM lp)
         |SELECT query_id, rank, neighbor_id FROM r WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    "ann_ivf_topk" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(${duckDot("v", "v")}) AS nrm FROM e),
         |cent AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cnrm FROM n
         |  ORDER BY vec_id LIMIT 16),
         |ac AS (SELECT n.vec_id, n.v, n.nrm, cent.cell_id,
         |  ${duckDot("n.v", "cent.cv")} / (n.nrm * cent.cnrm) AS c_cos
         |  FROM n CROSS JOIN cent),
         |assigned AS (SELECT vec_id, v, nrm, cell_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY c_cos DESC, cell_id ASC) AS rn FROM ac) WHERE rn = 1),
         |probes AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm, cell_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY c_cos DESC, cell_id ASC) AS rn FROM ac
         |  WHERE vec_id < 8) WHERE rn <= 4),
         |p AS (SELECT q.q_id AS query_id, c.vec_id AS neighbor_id,
         |  ${duckDot("q.qv", "c.v")} / (q.qnrm * c.nrm) AS cos
         |  FROM probes q JOIN assigned c ON q.cell_id = c.cell_id
         |    AND c.vec_id != q.q_id),
         |r AS (SELECT query_id, neighbor_id, cos, row_number() OVER (
         |  PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM p)
         |SELECT query_id, rank, neighbor_id FROM r WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    // decimal-accumulated per-dimension sums; the decimal→double hop
    // goes through VARCHAR because DuckDB's direct hugeint-decimal →
    // DOUBLE cast double-rounds on some values
    "emb_centroids" ->
      """WITH x0 AS (SELECT d.lang AS g,
        |  unnest(list_transform(range(1, len(e.embedding) + 1),
        |   i -> struct_pack(pos := i - 1, v := e.embedding[i]))) AS u
        | FROM embeddings e
        | JOIN documents d ON e.vec_id = d.doc_id),
        |x AS (SELECT g, u.pos AS pos,
        |  CAST(CAST(u.v AS VARCHAR) AS DECIMAL(38,18)) AS dv FROM x0),
        |s AS (SELECT g, pos, sum(dv) AS dsum,
        |  CAST(count(*) AS BIGINT) AS n FROM x GROUP BY g, pos)
        |SELECT g, CAST(pos AS INTEGER) AS pos,
        | CAST(CAST(dsum AS VARCHAR) AS DOUBLE)
        |  / CAST(n AS DOUBLE) AS mean, n
        |FROM s ORDER BY g, pos""".stripMargin,

    "emb_kmeans" -> duckKMeansSql(k = 8, iters = 2, dims = 64),

    // silhouette: the k-means replay's final assignment (a2) and full
    // distance relation (d2) give a and b per point directly
    "emb_silhouette" ->
      s"""WITH ${duckKMeansChain(8, 2, 64)},
         |b AS (SELECT a.vec_id, a.cid, a.d AS a2, min(dd.d) AS b2
         | FROM a2 a JOIN d2 dd ON dd.vec_id = a.vec_id
         |  AND dd.cid <> a.cid
         | GROUP BY a.vec_id, a.cid, a.d),
         |s AS (SELECT cid, CASE WHEN greatest(a2, b2) > CAST(0 AS DOUBLE)
         |  THEN (b2 - a2) / greatest(a2, b2) ELSE CAST(0 AS DOUBLE) END
         |   AS s FROM b)
         |SELECT CAST(cid AS INTEGER) AS cell,
         | CAST(count(*) AS BIGINT) AS n_points,
         | CAST(CAST(SUM(CAST(CAST(s AS VARCHAR) AS DECIMAL(22,6)))
         |   AS VARCHAR) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |  AS mean_silhouette
         |FROM s GROUP BY cid ORDER BY cell""".stripMargin,

    "ann_ivf_trained" -> duckIvfTrainedSql(nCells = 16, iters = 2,
      dims = 64, nProbe = 4, k = 5),

    // the trained PERSISTED index must match ivfTopKTrained exactly,
    // so its oracle is the same k-means-replaying construction;
    // probe_pruned pins the files-opened evidence
    "ann_ivf_trained_persisted" -> duckIvfTrainedSql(nCells = 16,
      iters = 2, dims = 64, nProbe = 4, k = 5,
      extraCols = ", TRUE AS probe_pruned"),

    // a RETRAINED index answers exactly like a fresh ivfTopKTrained
    // over the final corpus — the SAME k-means-replaying oracle;
    // drift_pins records the generation stamps + re-baselining
    "ann_ivf_drift_retrain" -> duckIvfTrainedSql(nCells = 16,
      iters = 2, dims = 64, nProbe = 4, k = 5,
      extraCols = ", TRUE AS drift_pins"),

    // replicates the SQ8 pipeline end to end: per-dim [min,max] over
    // the corpus, floor(x+0.5) half-up byte codes clamped to [0,255],
    // decode from the CODES (min + code·scale), asymmetric cosine vs
    // the exact query, rank tie-break (cos DESC, neighbor ASC)
    "ann_sq_topk" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(${duckDot("v", "v")}) AS nrm FROM e),
         |mm AS (SELECT i, min(v[i+1]) AS mn,
         |  (max(v[i+1]) - min(v[i+1])) / CAST(255 AS DOUBLE) AS s
         |  FROM e CROSS JOIN range(64) t(i) GROUP BY i),
         |dec AS (SELECT e.vec_id, list(CASE WHEN s > 0
         |    THEN mn + CAST(LEAST(255, GREATEST(0,
         |      CAST(floor((v[i+1] - mn) / s + CAST(0.5 AS DOUBLE))
         |        AS INTEGER))) AS DOUBLE) * s
         |    ELSE mn END ORDER BY i) AS dv
         |  FROM e CROSS JOIN mm GROUP BY e.vec_id),
         |dn AS (SELECT vec_id, dv, sqrt(${duckDot("dv", "dv")}) AS dnrm
         |  FROM dec),
         |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |  ${duckDot("c.dv", "q.v")} / (c.dnrm * q.nrm) AS cos
         |  FROM n q JOIN dn c ON q.vec_id < 8 AND c.vec_id != q.vec_id),
         |r AS (SELECT query_id, neighbor_id, cos, row_number() OVER (
         |  PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM p)
         |SELECT query_id, rank, neighbor_id, cos FROM r WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    // replicates the deterministic codebook (first 16 ids), the argmax
    // assignment tie-break (cos DESC, cell_id ASC), and the
    // within-cell lower-id pruning rule
    "dedup_semantic" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(${duckDot("v", "v")}) AS nrm FROM e),
         |cent AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cnrm FROM n
         |  ORDER BY vec_id LIMIT 16),
         |ac AS (SELECT n.vec_id, n.v, n.nrm, cent.cell_id,
         |  ${duckDot("n.v", "cent.cv")} / (n.nrm * cent.cnrm) AS c_cos
         |  FROM n CROSS JOIN cent),
         |assigned AS (SELECT vec_id, v, nrm, cell_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY c_cos DESC, cell_id ASC) AS rn FROM ac) WHERE rn = 1),
         |pruned AS (SELECT DISTINCT q.vec_id FROM assigned q
         |  JOIN assigned c ON q.cell_id = c.cell_id
         |    AND c.vec_id < q.vec_id
         |    AND ${duckDot("q.v", "c.v")} / (q.nrm * c.nrm)
         |      >= CAST(0.42 AS DOUBLE))
         |SELECT a.vec_id, a.cell_id, (p.vec_id IS NOT NULL) AS pruned
         |FROM assigned a LEFT JOIN pruned p ON a.vec_id = p.vec_id
         |ORDER BY a.vec_id""".stripMargin,

    "dedup_embedding_cosine" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id % 2 = 0),
         |n AS (SELECT vec_id, v, sqrt(${duckDot("v", "v")}) AS nrm FROM e),
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ${duckDot("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
         |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
         |SELECT id_a, id_b, cos FROM p WHERE cos >= CAST(0.42 AS DOUBLE)
         |ORDER BY id_a, id_b""".stripMargin,

    "dedup_embedding_lsh" -> {
      val (bands, rpb, dims) = (8, 6, 64)
      val bd = (0 until bands).map(b =>
        s"SELECT vec_id, $b AS band, ${duckBandSig("v", b, rpb, bands, dims)}" +
          " AS band_sig FROM e").mkString("\n  UNION ALL ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |bd AS ($bd),
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bd a JOIN bd b ON a.band = b.band
         |    AND a.band_sig = b.band_sig AND a.vec_id < b.vec_id),
         |n AS (SELECT vec_id, v, sqrt(${duckDot("v", "v")}) AS nrm FROM e),
         |p AS (SELECT id_a, id_b,
         |  ${duckDot("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
         |  FROM cand JOIN n q ON id_a = q.vec_id JOIN n c ON id_b = c.vec_id)
         |SELECT id_a, id_b, cos FROM p WHERE cos >= CAST(0.42 AS DOUBLE)
         |ORDER BY id_a, id_b""".stripMargin
    },

    "emb_norms" ->
      s"""SELECT vec_id, sqrt(${duckDot(
           "CAST(embedding AS DOUBLE[])", "CAST(embedding AS DOUBLE[])")})
         |  AS nrm
         |FROM embeddings ORDER BY vec_id""".stripMargin,

    // bounded-error checks for the approximate aggregates: the exact
    // values hash-match; the flags assert the sketch stayed in bound
    "agg_approx_distinct_users" ->
      """SELECT event_type,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        | TRUE AS hll_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "agg_hll_mergeable" ->
      """SELECT event_type,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        | TRUE AS merge_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "agg_quantiles" ->
      """SELECT event_type,
        | quantile_cont(value, 0.5) AS p50_exact,
        | quantile_cont(value, 0.95) AS p95_exact,
        | TRUE AS p50_ok, TRUE AS p95_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // rebuilds the exact PGM payload bytes as an ASCII string (the
    // corpus is pure ASCII, so varchar bytes == payload bytes: header
    // 'P5\n<w> <h>\n255\n' + text + space padding) and recomputes the
    // decoder's features: dims from the width rule, mean gray from
    // codepoint sums (== byte values on ASCII), md5 of the payload
    "mm_decoded_features" ->
      """WITH t AS (SELECT doc_id AS media_id, text,
        |  octet_length(encode(text)) AS n FROM documents),
        |d AS (SELECT media_id, text, n, 8 + (n % 57) AS w FROM t),
        |e AS (SELECT media_id, text, n, w,
        |  (greatest(n, 1) + w - 1) // w AS h FROM d),
        |f AS (SELECT media_id, n, w, h,
        |  'P5' || chr(10) || CAST(w AS VARCHAR) || ' '
        |   || CAST(h AS VARCHAR) || chr(10) || '255' || chr(10)
        |   || text || repeat(' ', w * h - n) AS payload,
        |  CAST(coalesce(list_sum(list_transform(string_split(text, ''),
        |    x -> ord(x))), 0) + 32 * (w * h - n) AS BIGINT) AS graysum
        | FROM e)
        |SELECT media_id,
        | CAST(octet_length(encode(payload)) AS BIGINT) AS byte_len,
        | CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        | CAST(255 AS INTEGER) AS maxval,
        | CAST(graysum AS DOUBLE) / CAST(w * h AS DOUBLE) AS mean_gray,
        | md5(payload) AS feature_hash
        |FROM f ORDER BY media_id""".stripMargin,

    // JPEG is lossy: the oracle pins the exact header facts and the
    // DC-bound mean agreement; pixel tolerances live in the spec
    "mm_decoded_jpeg" ->
      """WITH t AS (SELECT doc_id AS media_id,
        |  octet_length(encode(text)) AS n FROM documents),
        |d AS (SELECT media_id, n, 8 + (n % 57) AS w FROM t),
        |e AS (SELECT media_id, n, w,
        |  (greatest(n, 1) + w - 1) // w AS h FROM d)
        |SELECT media_id, CAST(w AS INTEGER) AS width,
        | CAST(h AS INTEGER) AS height,
        | CAST(1 AS INTEGER) AS channels,
        | TRUE AS mean_close
        |FROM e ORDER BY media_id""".stripMargin,

    // progressive carries the same coefficients as baseline: the
    // oracle pins the geometry facts and bit_identical = TRUE
    "mm_decoded_jpeg_prog" ->
      """WITH t AS (SELECT doc_id AS media_id, doc_id % 3 AS m,
        |  octet_length(encode(coalesce(text, ''))) AS n FROM documents),
        |d AS (SELECT media_id, m, n, 8 + (n % 57) AS w FROM t),
        |e AS (SELECT media_id, m, w,
        |  CASE WHEN m = 0 THEN greatest(1, (n + w - 1) // w)
        |       ELSE greatest(1, (n + 3*w - 1) // (3*w)) END AS h
        | FROM d)
        |SELECT media_id, CAST(w AS INTEGER) AS width,
        | CAST(h AS INTEGER) AS height,
        | CAST(CASE WHEN m = 0 THEN 1 ELSE 3 END AS INTEGER)
        |   AS channels,
        | TRUE AS bit_identical
        |FROM e ORDER BY media_id""".stripMargin,

    // 4:2:0 is lossy: the oracle pins the full-MCU geometry facts
    // and the per-channel mean booleans (the source channel means
    // the booleans compare against are computed relationally on the
    // Spark side with oracle-grade arithmetic)
    "mm_decoded_jpeg420" ->
      """WITH t AS (SELECT doc_id AS media_id,
        |  octet_length(encode(coalesce(text, ''))) AS n FROM documents),
        |d AS (SELECT media_id, n, 16 * (1 + n % 3) AS w FROM t),
        |e AS (SELECT media_id, w,
        |  16 * ((greatest(1, (n + 3*w - 1) // (3*w)) + 15) // 16) AS h
        | FROM d)
        |SELECT media_id, CAST(w AS INTEGER) AS width,
        | CAST(h AS INTEGER) AS height,
        | CAST(3 AS INTEGER) AS channels,
        | TRUE AS r_close, TRUE AS g_close, TRUE AS b_close
        |FROM e ORDER BY media_id""".stripMargin,

    // nearest-neighbor resize, recomputed positionally: out(y,x) =
    // raster[(y*h//oh)*w + x*w//ow]; dims by the identical
    // IEEE floor(w * (16/max)) rule, clamped to >= 1
    "mm_resize_pixels" ->
      """WITH t AS (SELECT doc_id AS media_id, text,
        |  octet_length(encode(text)) AS n FROM documents),
        |d AS (SELECT media_id, text, n, 8 + (n % 57) AS w FROM t),
        |e AS (SELECT media_id, text, n, w,
        |  (greatest(n, 1) + w - 1) // w AS h FROM d),
        |f AS (SELECT media_id, w, h,
        |  text || repeat(' ', w * h - n) AS raster FROM e),
        |g AS (SELECT media_id, w, h, raster,
        |  CASE WHEN greatest(w, h) > 16 THEN greatest(1,
        |    CAST(FLOOR(CAST(w AS DOUBLE) * (CAST(16 AS DOUBLE) /
        |      CAST(greatest(w, h) AS DOUBLE))) AS INTEGER))
        |   ELSE w END AS ow,
        |  CASE WHEN greatest(w, h) > 16 THEN greatest(1,
        |    CAST(FLOOR(CAST(h AS DOUBLE) * (CAST(16 AS DOUBLE) /
        |      CAST(greatest(w, h) AS DOUBLE))) AS INTEGER))
        |   ELSE h END AS oh FROM f),
        |r AS (SELECT media_id, w, h, ow, oh,
        |  array_to_string(list_transform(range(0, ow * oh), p ->
        |    substr(raster, CAST(((p // ow) * h // oh) * w +
        |      ((p % ow) * w // ow) AS INTEGER) + 1, 1)), '') AS rz
        | FROM g)
        |SELECT media_id, CAST(w AS INTEGER) AS width,
        | CAST(h AS INTEGER) AS height,
        | CAST(ow AS INTEGER) AS out_width,
        | CAST(oh AS INTEGER) AS out_height,
        | CAST(coalesce(list_sum(list_transform(string_split(rz, ''),
        |   x -> ord(x))), 0) AS DOUBLE) / CAST(ow * oh AS DOUBLE)
        |   AS mean_out,
        | md5(rz) AS out_md5
        |FROM r ORDER BY media_id""".stripMargin,

    // area-average resize, recomputed positionally: out(y,x) = the
    // box sum over [y*h//oh, (y+1)*h//oh) x [x*w//ow, (x+1)*w//ow)
    // (clamped to >= 1 px) integer-divided by its count — the exact
    // kernel arithmetic, then md5 of the reassembled bytes
    "mm_resize_area" ->
      """WITH t AS (SELECT doc_id AS media_id, text,
        |  octet_length(encode(text)) AS n FROM documents),
        |d AS (SELECT media_id, text, n, 8 + (n % 57) AS w FROM t),
        |e AS (SELECT media_id, text, n, w,
        |  (greatest(n, 1) + w - 1) // w AS h FROM d),
        |f AS (SELECT media_id, w, h,
        |  text || repeat(' ', w * h - n) AS raster FROM e),
        |g AS (SELECT media_id, w, h, raster,
        |  CASE WHEN greatest(w, h) > 16 THEN greatest(1,
        |    CAST(FLOOR(CAST(w AS DOUBLE) * (CAST(16 AS DOUBLE) /
        |      CAST(greatest(w, h) AS DOUBLE))) AS INTEGER))
        |   ELSE w END AS ow,
        |  CASE WHEN greatest(w, h) > 16 THEN greatest(1,
        |    CAST(FLOOR(CAST(h AS DOUBLE) * (CAST(16 AS DOUBLE) /
        |      CAST(greatest(w, h) AS DOUBLE))) AS INTEGER))
        |   ELSE h END AS oh FROM f),
        |r AS (SELECT media_id, w, h, ow, oh,
        |  array_to_string(list_transform(range(0, ow * oh), p ->
        |    chr(CAST(
        |      list_sum(flatten(list_transform(
        |        range((p // ow) * h // oh,
        |          greatest((p // ow) * h // oh + 1,
        |            ((p // ow) + 1) * h // oh)),
        |        sy -> list_transform(
        |          range((p % ow) * w // ow,
        |            greatest((p % ow) * w // ow + 1,
        |              ((p % ow) + 1) * w // ow)),
        |          sx -> ord(substr(raster,
        |            CAST(sy * w + sx AS INTEGER) + 1, 1)))))) //
        |      ((greatest((p // ow) * h // oh + 1,
        |          ((p // ow) + 1) * h // oh) - (p // ow) * h // oh) *
        |       (greatest((p % ow) * w // ow + 1,
        |          ((p % ow) + 1) * w // ow) - (p % ow) * w // ow))
        |    AS INTEGER))), '') AS rz
        | FROM g)
        |SELECT media_id, CAST(w AS INTEGER) AS width,
        | CAST(h AS INTEGER) AS height,
        | CAST(ow AS INTEGER) AS out_width,
        | CAST(oh AS INTEGER) AS out_height,
        | CAST(coalesce(list_sum(list_transform(string_split(rz, ''),
        |   x -> ord(x))), 0) AS DOUBLE) / CAST(ow * oh AS DOUBLE)
        |   AS mean_out,
        | md5(rz) AS out_md5
        |FROM r ORDER BY media_id""".stripMargin,

    // PNG: the oracle rebuilds the DECODED raster (text + space pad on
    // the shared PGM geometry) and recomputes its facts; the container
    // (zlib, filters, CRCs) is exercised Spark-side and spec-pinned
    "mm_decoded_png" ->
      """WITH t AS (SELECT doc_id AS media_id, text,
        |  octet_length(encode(text)) AS n FROM documents),
        |d AS (SELECT media_id, text, n, 8 + (n % 57) AS w FROM t),
        |e AS (SELECT media_id, text, n, w,
        |  (greatest(n, 1) + w - 1) // w AS h FROM d),
        |f AS (SELECT media_id, n, w, h,
        |  text || repeat(' ', w * h - n) AS raster,
        |  CAST(coalesce(list_sum(list_transform(string_split(text, ''),
        |    x -> ord(x))), 0) + 32 * (w * h - n) AS BIGINT) AS graysum
        | FROM e)
        |SELECT media_id,
        | CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        | CAST(1 AS INTEGER) AS channels,
        | CAST(graysum AS DOUBLE) / CAST(w * h AS DOUBLE) AS mean_level,
        | md5(raster) AS raster_md5
        |FROM f ORDER BY media_id""".stripMargin,

    // P6 twin of mm_decoded_features: rebuilds the exact PPM payload
    // bytes as an ASCII string and recomputes per-channel means from
    // positional codepoints (channel = (pos-1) mod 3; padding is ' ')
    "mm_decoded_rgb" ->
      """WITH t AS (SELECT doc_id AS media_id, text,
        |  octet_length(encode(text)) AS n FROM documents),
        |d AS (SELECT media_id, text, n, 4 + (n % 23) AS w FROM t),
        |e AS (SELECT media_id, text, n, w,
        |  (greatest(n, 1) + 3 * w - 1) // (3 * w) AS h FROM d),
        |p AS (SELECT media_id, n, w, h, text,
        |  unnest(range(1, 3 * w * h + 1)) AS pos FROM e),
        |v AS (SELECT media_id, (pos - 1) % 3 AS ch,
        |  CASE WHEN pos <= n
        |    THEN ord(substr(text, CAST(pos AS INTEGER), 1))
        |    ELSE 32 END AS b FROM p),
        |sums AS (SELECT media_id,
        |  CAST(sum(CASE WHEN ch = 0 THEN b ELSE 0 END) AS BIGINT) AS sr,
        |  CAST(sum(CASE WHEN ch = 1 THEN b ELSE 0 END) AS BIGINT) AS sg,
        |  CAST(sum(CASE WHEN ch = 2 THEN b ELSE 0 END) AS BIGINT) AS sb
        | FROM v GROUP BY 1),
        |f AS (SELECT media_id, n, w, h,
        |  'P6' || chr(10) || CAST(w AS VARCHAR) || ' '
        |   || CAST(h AS VARCHAR) || chr(10) || '255' || chr(10)
        |   || text || repeat(' ', 3 * w * h - n) AS payload FROM e)
        |SELECT f.media_id,
        | CAST(octet_length(encode(payload)) AS BIGINT) AS byte_len,
        | CAST(f.w AS INTEGER) AS width, CAST(f.h AS INTEGER) AS height,
        | CAST(255 AS INTEGER) AS maxval,
        | CAST(sr AS DOUBLE) / CAST(f.w * f.h AS DOUBLE) AS mean_r,
        | CAST(sg AS DOUBLE) / CAST(f.w * f.h AS DOUBLE) AS mean_g,
        | CAST(sb AS DOUBLE) / CAST(f.w * f.h AS DOUBLE) AS mean_b,
        | md5(payload) AS feature_hash
        |FROM f JOIN sums ON f.media_id = sums.media_id
        |ORDER BY f.media_id""".stripMargin,

    // ---- pipeline ops ----

    "stream_session_window" ->
      """WITH m AS (SELECT user_id, event_id, ts,
        |  lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS prev FROM events),
        |s AS (SELECT user_id, event_id, ts,
        |  CASE WHEN prev IS NULL OR epoch_us(ts) - prev >= 1800000000
        |    THEN 1 ELSE 0 END AS is_new FROM m),
        |x AS (SELECT user_id, ts,
        |  CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS sidx FROM s)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events
        |FROM x GROUP BY user_id, sidx
        |ORDER BY user_id, session_start""".stripMargin,

    "pipe_sessionize" ->
      """WITH m AS (SELECT user_id, event_id, ts,
        |  lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS prev FROM events),
        |s AS (SELECT user_id, event_id, ts,
        |  CASE WHEN prev IS NULL OR epoch_us(ts) - prev > 1800000000
        |    THEN 1 ELSE 0 END AS is_new FROM m),
        |x AS (SELECT user_id, ts,
        |  CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS session_idx FROM s)
        |SELECT user_id, session_idx, min(ts) AS session_start,
        |  max(ts) AS session_end, count(*) AS n_events
        |FROM x GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,

    "pipe_vocabulary" ->
      """SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df FROM (
        | SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+'))
        |  AS token FROM documents)
        |GROUP BY token ORDER BY tf DESC, token ASC LIMIT 100""".stripMargin,

    "pipe_hash_sample" ->
      """SELECT doc_id, lang FROM documents
        | WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '14'
        | ORDER BY doc_id""".stripMargin,

    "pipe_stratified_sample" ->
      """SELECT doc_id, lang FROM (
        | SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        | FROM documents) WHERE rn <= 20
        |ORDER BY lang, doc_id""".stripMargin,

    // replicates sourceMix: the share denominator is the SAME explicit
    // left fold (list_reduce over the lang-ordered sqrt list) as
    // Spark's aggregate-over-sort_array, so S matches bit-for-bit
    "pipe_source_mix" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
        | FROM documents GROUP BY lang),
        |s AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |  (SELECT list(sqrt(CAST(n AS DOUBLE)) ORDER BY lang) FROM c)),
        |  (p,q) -> p + q) AS ssum),
        |sh AS (SELECT lang, n, CAST(100 AS DOUBLE)
        |  * sqrt(CAST(n AS DOUBLE)) / (SELECT ssum FROM s) AS quota
        | FROM c),
        |b AS (SELECT lang, n, quota,
        |  CAST(floor(quota) AS BIGINT) AS base,
        |  quota - floor(quota) AS rem FROM sh),
        |l AS (SELECT 100 - CAST(sum(base) AS BIGINT) AS leftover FROM b),
        |tg AS (SELECT lang, least(base + CASE WHEN row_number()
        |  OVER (ORDER BY rem DESC, lang ASC) <= (SELECT leftover FROM l)
        |  THEN 1 ELSE 0 END, n) AS target FROM b),
        |sel AS (SELECT d.lang, t.target, d.doc_id, row_number()
        |  OVER (PARTITION BY d.lang
        |    ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rn
        | FROM documents d JOIN tg t ON d.lang = t.lang)
        |SELECT lang, target, doc_id FROM sel WHERE rn <= target
        |ORDER BY lang, doc_id""".stripMargin,

    // Neyman allocation: seats ∝ N_h·σ_h with N·σ = sqrt of an exact
    // integer (n·Σx² − (Σx)²); Σweights as the same ordered left fold
    // as pipe_source_mix; md5-order fill within each stratum
    "pipe_neyman_sample" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(length(text)) AS BIGINT) AS sx,
        |  CAST(sum(length(text) * length(text)) AS BIGINT) AS sxx
        | FROM documents GROUP BY lang),
        |w AS (SELECT lang, n,
        |  sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) AS s FROM c),
        |t AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |  (SELECT list(s ORDER BY lang) FROM w)),
        |  (p, q) -> p + q) AS ssum),
        |sh AS (SELECT lang, n, CAST(100 AS DOUBLE) * s
        |  / (SELECT ssum FROM t) AS quota FROM w),
        |b AS (SELECT lang, n, quota,
        |  CAST(floor(quota) AS BIGINT) AS base,
        |  quota - floor(quota) AS rem FROM sh),
        |l AS (SELECT 100 - CAST(sum(base) AS BIGINT) AS leftover FROM b),
        |tg AS (SELECT lang, least(base + CASE WHEN row_number()
        |  OVER (ORDER BY rem DESC, lang ASC) <= (SELECT leftover FROM l)
        |  THEN 1 ELSE 0 END, n) AS target FROM b),
        |sel AS (SELECT d.lang, t.target, d.doc_id, row_number()
        |  OVER (PARTITION BY d.lang
        |    ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rn
        | FROM documents d JOIN tg t ON d.lang = t.lang)
        |SELECT lang, target, doc_id FROM sel WHERE rn <= target
        |ORDER BY lang, doc_id""".stripMargin,

    // Theil–Sen: median of pairwise daily slopes; daily y is the dsum
    // pattern, slopes one IEEE divide, even-count median (lo+hi)/2
    "ts_theil_sen" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR)
        |    AS DOUBLE) AS y
        | FROM events GROUP BY 1, 2),
        |d2 AS (SELECT event_type, day, y,
        |  CAST(day - DATE '1970-01-01' AS DOUBLE) AS d FROM daily),
        |pairs AS (SELECT a.event_type AS event_type,
        |  (b.y - a.y) / (b.d - a.d) AS slope
        | FROM d2 a JOIN d2 b
        | ON a.event_type = b.event_type AND a.day < b.day),
        |np AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs
        | FROM pairs GROUP BY 1),
        |r AS (SELECT event_type, slope, row_number() OVER (
        |  PARTITION BY event_type ORDER BY slope) AS rn FROM pairs)
        |SELECT r.event_type, max(np.n_pairs) AS n_pairs,
        | (min(slope) + max(slope)) / CAST(2 AS DOUBLE)
        |  AS theil_sen_slope
        |FROM r JOIN np ON r.event_type = np.event_type
        |WHERE rn = (np.n_pairs + 1) // 2 OR rn = (np.n_pairs + 2) // 2
        |GROUP BY r.event_type ORDER BY r.event_type""".stripMargin,

    // Mann–Kendall: integer S over exact-decimal sign compares, the
    // tie-corrected variance, continuity-corrected z — one IEEE
    // divide + sqrt after pure integer arithmetic
    "ts_mann_kendall" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |  SUM(CAST(value AS DECIMAL(18,4))) AS y
        | FROM events GROUP BY 1, 2),
        |s AS (SELECT a.event_type,
        |  CAST(SUM(CASE WHEN b.y > a.y THEN 1
        |    WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        | FROM daily a JOIN daily b
        | ON a.event_type = b.event_type AND a.day < b.day
        | GROUP BY 1),
        |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
        | FROM daily GROUP BY 1),
        |ties AS (SELECT event_type,
        |  CAST(SUM(t*(t-1)*(t*2+5)) AS BIGINT) AS tie_term
        | FROM (SELECT event_type, y, CAST(count(*) AS BIGINT) AS t
        |   FROM daily GROUP BY 1, 2) GROUP BY 1),
        |v AS (SELECT n.event_type, n.n_days, s.s_stat,
        |  CAST(n_days*(n_days-1)*(n_days*2+5) - tie_term AS DOUBLE)
        |    / CAST(18 AS DOUBLE) AS var_s
        | FROM n JOIN s ON n.event_type = s.event_type
        | JOIN ties ON n.event_type = ties.event_type)
        |SELECT event_type, n_days, s_stat, var_s,
        | CASE WHEN s_stat > 0
        |   THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
        |  WHEN s_stat < 0
        |   THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
        |  ELSE CAST(0 AS DOUBLE) END AS z
        |FROM v ORDER BY event_type""".stripMargin,

    // Hodges–Lehmann: median of Walsh averages (i ≤ j incl. i = j)
    // over the decimal-exact daily series; (lo+hi)/2 even-count median
    "analytics_hodges_lehmann" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR)
        |    AS DOUBLE) AS y
        | FROM events GROUP BY 1, 2),
        |pairs AS (SELECT a.event_type AS event_type,
        |  (a.y + b.y) / CAST(2 AS DOUBLE) AS walsh
        | FROM daily a JOIN daily b
        | ON a.event_type = b.event_type AND a.day <= b.day),
        |np AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs
        | FROM pairs GROUP BY 1),
        |r AS (SELECT event_type, walsh, row_number() OVER (
        |  PARTITION BY event_type ORDER BY walsh) AS rn FROM pairs)
        |SELECT r.event_type, max(np.n_pairs) AS n_pairs,
        | (min(walsh) + max(walsh)) / CAST(2 AS DOUBLE) AS hl_estimate
        |FROM r JOIN np ON r.event_type = np.event_type
        |WHERE rn = (np.n_pairs + 1) // 2 OR rn = (np.n_pairs + 2) // 2
        |GROUP BY r.event_type ORDER BY r.event_type""".stripMargin,

    // Poisson bootstrap: replicate weights from integer thresholds at
    // the md5-derived 8-bit coin (94/188/235/251/255 =
    // floor(F_Poisson(1)(k)·256)); per-replicate means decimal-exact
    // with one IEEE divide; CI = order stats 3/98 of the 100 means
    "analytics_bootstrap_ci" ->
      s"""WITH ck AS (SELECT event_type, event_id,
         |  CAST(value AS DECIMAL(18,4)) AS v,
         |  unnest(range(0, 7)) AS chunk FROM events),
         |hs AS (SELECT event_type, v, chunk,
         |  md5(CAST(event_id AS VARCHAR) || ':'
         |    || CAST(chunk AS VARCHAR)) AS hh FROM ck),
         |reps AS (SELECT event_type, v, hh,
         |  chunk * 16 + pos AS b,
         |  substr(hh, CAST(pos * 2 + 1 AS INTEGER), 2) AS pr
         | FROM hs, (SELECT unnest(range(0, 16)) AS pos)
         | WHERE chunk * 16 + pos < 100),
         |us AS (SELECT event_type, b, v, ${duckU8("pr")} AS u
         | FROM reps),
         |ws AS (SELECT event_type, b, v,
         |  CAST(CASE WHEN u < 94 THEN 0 WHEN u < 188 THEN 1
         |   WHEN u < 235 THEN 2 WHEN u < 251 THEN 3
         |   WHEN u < 255 THEN 4 ELSE 5 END AS BIGINT) AS w FROM us),
         |m AS (SELECT event_type, b,
         |  CAST(CAST(SUM(w * v) AS VARCHAR) AS DOUBLE)
         |   / CAST(nullif(CAST(SUM(w) AS BIGINT), 0) AS DOUBLE)
         |   AS mean_b
         | FROM ws GROUP BY 1, 2),
         |r AS (SELECT event_type, mean_b, row_number() OVER (
         |  PARTITION BY event_type ORDER BY mean_b) AS rn FROM m),
         |ci AS (SELECT event_type, min(mean_b) AS ci_lo,
         |  max(mean_b) AS ci_hi FROM r WHERE rn = 3 OR rn = 98
         | GROUP BY 1),
         |pt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR)
         |    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean
         | FROM events GROUP BY 1)
         |SELECT pt.event_type, pt.n, pt.mean, ci.ci_lo, ci.ci_hi
         |FROM ci JOIN pt ON ci.event_type = pt.event_type
         |ORDER BY pt.event_type""".stripMargin,

    // Yule–Walker AR(2): r1/r2 via the exact-integer ACF clearing
    // formula (verbatim from ts_acf), φ/forecast as one fixed IEEE tree
    "ts_ar2_forecast" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |  CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
        |idx AS (SELECT event_type, x, row_number() OVER (
        |  PARTITION BY event_type ORDER BY day) AS t FROM daily),
        |base AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  SUM(CAST(x AS HUGEINT)) AS s,
        |  SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS q
        | FROM idx GROUP BY 1),
        |lags AS (SELECT unnest(generate_series(1, 2)) AS lag),
        |ov AS (SELECT a.event_type, l.lag,
        |  CAST(count(*) AS BIGINT) AS m,
        |  SUM(CAST(a.x AS HUGEINT) * CAST(b.x AS HUGEINT)) AS pk,
        |  SUM(CAST(a.x AS HUGEINT)) AS sh,
        |  SUM(CAST(b.x AS HUGEINT)) AS st
        | FROM idx a CROSS JOIN lags l
        | JOIN idx b ON b.event_type = a.event_type
        |  AND b.t = a.t + l.lag
        | GROUP BY 1, 2),
        |acf AS (SELECT o.event_type, o.lag,
        | CAST(CAST(CAST(b.n AS HUGEINT) * CAST(b.n AS HUGEINT) * o.pk
        |    - CAST(b.n AS HUGEINT) * b.s * (o.sh + o.st)
        |    + CAST(o.m AS HUGEINT) * b.s * b.s AS VARCHAR) AS DOUBLE)
        | / CAST(CAST(CAST(b.n AS HUGEINT) * CAST(b.n AS HUGEINT) * b.q
        |    - CAST(b.n AS HUGEINT) * b.s * b.s AS VARCHAR) AS DOUBLE)
        |  AS acf
        | FROM ov o JOIN base b ON o.event_type = b.event_type),
        |rr AS (SELECT event_type,
        |  max(CASE WHEN lag = 1 THEN acf END) AS r1,
        |  max(CASE WHEN lag = 2 THEN acf END) AS r2
        | FROM acf GROUP BY 1),
        |mb AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(x) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS ybar
        | FROM daily GROUP BY 1),
        |tl AS (SELECT event_type, x, row_number() OVER (
        |  PARTITION BY event_type ORDER BY day DESC) AS rn FROM daily),
        |tail AS (SELECT event_type,
        |  CAST(max(CASE WHEN rn = 1 THEN x END) AS DOUBLE) AS yn,
        |  CAST(max(CASE WHEN rn = 2 THEN x END) AS DOUBLE) AS ynm1
        | FROM tl WHERE rn <= 2 GROUP BY 1),
        |ph AS (SELECT rr.event_type, mb.n, rr.r1, rr.r2, mb.ybar,
        |  tail.yn, tail.ynm1,
        |  rr.r1 * (CAST(1 AS DOUBLE) - rr.r2)
        |   / nullif(CAST(1 AS DOUBLE) - rr.r1 * rr.r1,
        |       CAST(0 AS DOUBLE)) AS phi1,
        |  (rr.r2 - rr.r1 * rr.r1)
        |   / nullif(CAST(1 AS DOUBLE) - rr.r1 * rr.r1,
        |       CAST(0 AS DOUBLE)) AS phi2
        | FROM rr JOIN mb ON rr.event_type = mb.event_type
        | JOIN tail ON rr.event_type = tail.event_type)
        |SELECT event_type, n, r1, r2, phi1, phi2,
        | ybar + phi1 * (yn - ybar) + phi2 * (ynm1 - ybar) AS forecast
        |FROM ph ORDER BY event_type""".stripMargin,

    // ε-DP counts: discrete geometric noise (p = ½) inverted at the
    // md5 coin against the floor(F(k)·256) integer threshold chain
    "privacy_dp_counts" ->
      s"""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
         | FROM documents GROUP BY 1),
         |h AS (SELECT lang, n, md5('dp:' || lang) AS hh FROM c),
         |u AS (SELECT lang, n, ${duckU8("hh")} AS u8 FROM h),
         |z AS (SELECT lang, n,
         |  CAST(CASE WHEN u8 < 5 THEN -5 WHEN u8 < 10 THEN -4
         |   WHEN u8 < 21 THEN -3 WHEN u8 < 42 THEN -2
         |   WHEN u8 < 85 THEN -1 WHEN u8 < 170 THEN 0
         |   WHEN u8 < 213 THEN 1 WHEN u8 < 234 THEN 2
         |   WHEN u8 < 245 THEN 3 WHEN u8 < 250 THEN 4
         |   ELSE 5 END AS BIGINT) AS noise FROM u)
         |SELECT lang, n, noise,
         | CAST(greatest(n + noise, 0) AS BIGINT) AS released
         |FROM z ORDER BY lang""".stripMargin,

    // clipped-sum DP mean: exact ×10⁴ integer units, two independent
    // geometric draws (count at unit sensitivity, sum scaled by the
    // clip bound), two IEEE divides at the end
    "privacy_dp_mean" -> {
      def g(u: String): String =
        s"(CASE WHEN $u < 5 THEN -5 WHEN $u < 10 THEN -4" +
          s" WHEN $u < 21 THEN -3 WHEN $u < 42 THEN -2" +
          s" WHEN $u < 85 THEN -1 WHEN $u < 170 THEN 0" +
          s" WHEN $u < 213 THEN 1 WHEN $u < 234 THEN 2" +
          s" WHEN $u < 245 THEN 3 WHEN $u < 250 THEN 4 ELSE 5 END)"
      s"""WITH v AS (SELECT event_type,
         |  least(greatest(CAST(CAST(value AS DECIMAL(18,4)) * 10000
         |    AS BIGINT), 0), 1000000) AS units FROM events),
         |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(units) AS BIGINT) AS clipped_units
         | FROM v GROUP BY 1),
         |h AS (SELECT event_type, n, clipped_units,
         |  md5('dp:s:' || event_type) AS hs,
         |  md5('dp:n:' || event_type) AS hn FROM a),
         |u AS (SELECT event_type, n, clipped_units,
         |  ${duckU8("hs")} AS us, ${duckU8("hn")} AS un FROM h),
         |z AS (SELECT event_type, n, clipped_units,
         |  CAST(greatest(n + ${g("un")}, 0) AS BIGINT) AS noisy_n,
         |  CAST(greatest(clipped_units + ${g("us")} * 1000000, 0)
         |    AS BIGINT) AS noisy_units FROM u)
         |SELECT event_type, n, clipped_units, noisy_n, noisy_units,
         | CAST(noisy_units AS DOUBLE) / CAST(10000 AS DOUBLE)
         |  / CAST(nullif(noisy_n, 0) AS DOUBLE) AS released_mean
         |FROM z ORDER BY event_type""".stripMargin
    },

    // ε-budget ledger: per-salt running Σε (basic composition) in
    // release-name order, budget 1.5 — group counts from the same
    // GROUP BY the releases expose (count-of-grouped-rows, so a NULL
    // group counts like Spark's groupBy)
    "privacy_budget" ->
      """WITH l AS (
        | SELECT 'counts:lang' AS release, 'geometric' AS mechanism,
        |  CAST(0.6931471805599453 AS DOUBLE) AS epsilon,
        |  'dp' AS salt,
        |  (SELECT CAST(count(*) AS BIGINT)
        |   FROM (SELECT lang FROM documents GROUP BY 1)) AS n_groups
        | UNION ALL
        | SELECT 'mean:event_type:value', 'geometric_ratio',
        |  CAST(1.3862943611198906 AS DOUBLE), 'dp',
        |  (SELECT CAST(count(*) AS BIGINT)
        |   FROM (SELECT event_type FROM events GROUP BY 1)))
        |SELECT release, mechanism, epsilon, salt, n_groups,
        | sum(epsilon) OVER (PARTITION BY salt ORDER BY release)
        |  AS cum_epsilon,
        | CAST(sum(epsilon) OVER (PARTITION BY salt ORDER BY release)
        |  <= CAST(1.5 AS DOUBLE) AS INT) AS within_budget
        |FROM l ORDER BY release""".stripMargin,

    // WAV PCM16: rebuild each sample from positional byte pairs
    // (little-endian; ASCII corpus so char position == byte position,
    // the same stance as mm_decoded_rgb), space-pad to even length
    "mm_wav_stats" ->
      """WITH t AS (SELECT doc_id AS media_id, text,
        |  octet_length(encode(text)) AS n0 FROM documents),
        |d AS (SELECT media_id, text, n0, (n0 + 1) // 2 AS ns FROM t),
        |p AS (SELECT media_id, text, n0, ns,
        |  unnest(range(0, ns)) AS i FROM d),
        |v AS (SELECT media_id,
        |  (CASE WHEN 2 * i + 1 <= n0
        |    THEN ord(substr(text, CAST(2 * i + 1 AS INTEGER), 1))
        |    ELSE 32 END)
        |  + 256 * (CASE WHEN 2 * i + 2 <= n0
        |    THEN ord(substr(text, CAST(2 * i + 2 AS INTEGER), 1))
        |    ELSE 32 END) AS raw FROM p),
        |sg AS (SELECT media_id,
        |  CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS sv
        | FROM v),
        |s AS (SELECT media_id,
        |  CAST(sum(CAST(sv AS BIGINT)) AS BIGINT) AS sumv,
        |  CAST(sum(CAST(sv AS BIGINT) * CAST(sv AS BIGINT)) AS BIGINT)
        |    AS sumq,
        |  CAST(max(abs(sv)) AS INTEGER) AS peak
        | FROM sg GROUP BY 1)
        |SELECT d.media_id, CAST(44 + 2 * d.ns AS BIGINT) AS byte_len,
        | CAST(d.ns AS BIGINT) AS n_samples,
        | CAST(8000 AS INTEGER) AS sample_rate,
        | CAST(sumv AS DOUBLE) / CAST(d.ns AS DOUBLE) AS mean_amp,
        | sqrt(CAST(sumq AS DOUBLE) / CAST(d.ns AS DOUBLE)) AS rms_amp,
        | peak AS peak_amp
        |FROM d JOIN s ON d.media_id = s.media_id
        |ORDER BY d.media_id""".stripMargin,

    // Holt–Winters additive: the identical rotating fold via
    // list_reduce — init prepended, each x padded into a 9-vector so
    // the fold is type-uniform; every IEEE intermediate matches
    "ts_holt_winters" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR)
        |    AS DOUBLE) AS x
        | FROM events GROUP BY 1, 2),
        |ser AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  list(x ORDER BY d) AS xs FROM daily GROUP BY 1),
        |f AS (SELECT event_type, n_days, xs,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE), xs[1:7]),
        |    (p, q) -> p + q) / CAST(7 AS DOUBLE) AS l0
        | FROM ser WHERE n_days >= 14),
        |ini AS (SELECT event_type, n_days, xs,
        |  list_concat([l0, CAST(0 AS DOUBLE)],
        |    list_transform(xs[1:7], x -> x - l0)) AS acc0 FROM f),
        |st AS (SELECT event_type, n_days,
        |  list_reduce(list_prepend(acc0,
        |    list_transform(xs[8:], x -> [x, CAST(0 AS DOUBLE),
        |      CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
        |      CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
        |      CAST(0 AS DOUBLE)])),
        |   (acc, e) -> list_concat(list_concat(
        |     [0.5*(e[1] - acc[3]) + 0.5*(acc[1] + acc[2]),
        |      0.3*((0.5*(e[1] - acc[3]) + 0.5*(acc[1] + acc[2]))
        |        - acc[1]) + 0.7*acc[2]],
        |     acc[4:9]),
        |     [0.2*(e[1] - (0.5*(e[1] - acc[3])
        |        + 0.5*(acc[1] + acc[2]))) + 0.8*acc[3]])) AS s
        | FROM ini)
        |SELECT event_type, n_days, s[1] AS level, s[2] AS trend,
        | s[3] AS season_next, s[1] + s[2] + s[3] AS forecast_1
        |FROM st ORDER BY event_type""".stripMargin,

    // MDE at current n: Welch SE from the same exact moments, z's as
    // shared literal constants folded identically by both engines
    "analytics_ab_power" ->
      """WITH e AS (SELECT event_type, user_id % 2 AS arm, value
        |  FROM events WHERE value IS NOT NULL),
        |a AS (SELECT event_type,
        |  CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(SUM(CASE WHEN arm = 0
        |   THEN CAST(value AS DECIMAL(22,6)) END) AS DOUBLE) AS s_a,
        |  CAST(SUM(CASE WHEN arm = 0
        |   THEN CAST(value * value AS DECIMAL(22,6)) END) AS DOUBLE) AS s2_a,
        |  CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |  CAST(SUM(CASE WHEN arm = 1
        |   THEN CAST(value AS DECIMAL(22,6)) END) AS DOUBLE) AS s_b,
        |  CAST(SUM(CASE WHEN arm = 1
        |   THEN CAST(value * value AS DECIMAL(22,6)) END) AS DOUBLE) AS s2_b
        | FROM e GROUP BY 1),
        |d AS (SELECT event_type,
        |  n_a, s_a / CAST(n_a AS DOUBLE) AS mean_a,
        |  CASE WHEN n_a >= 2 THEN
        |   (s2_a - (s_a * s_a) / CAST(n_a AS DOUBLE))
        |    / (CAST(n_a AS DOUBLE) - 1e0) END AS var_a,
        |  n_b,
        |  CASE WHEN n_b >= 2 THEN
        |   (s2_b - (s_b * s_b) / CAST(n_b AS DOUBLE))
        |    / (CAST(n_b AS DOUBLE) - 1e0) END AS var_b
        | FROM a)
        |SELECT event_type, n_a, n_b, mean_a,
        | sqrt(var_a / CAST(n_a AS DOUBLE)
        |  + var_b / CAST(n_b AS DOUBLE)) AS se,
        | (1.959963984540054 + 0.8416212335729143)
        |  * sqrt(var_a / CAST(n_a AS DOUBLE)
        |    + var_b / CAST(n_b AS DOUBLE)) AS mde_abs,
        | (1.959963984540054 + 0.8416212335729143)
        |  * sqrt(var_a / CAST(n_a AS DOUBLE)
        |    + var_b / CAST(n_b AS DOUBLE)) / mean_a AS mde_rel
        |FROM d ORDER BY event_type""".stripMargin,

    // epoch budget: integer accounting (// and <<), effective value
    // from exact powers of two — no libm pow
    "pipe_repeat_budget" ->
      """WITH ps AS (SELECT source,
        |  CAST(sum(length(text)) AS BIGINT) AS u
        | FROM documents GROUP BY 1),
        |kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM ps),
        |t1 AS (SELECT source, u, 1000000 // kk.k AS target FROM ps, kk),
        |t2 AS (SELECT source, u, target,
        |  least((target + u - 1) // u, 4) AS epochs FROM t1),
        |t3 AS (SELECT source, u, target, epochs,
        |  least(target, u * epochs) AS served FROM t2),
        |t4 AS (SELECT source, u, target, epochs, served,
        |  served // u AS e, served % u AS frac FROM t3),
        |t5 AS (SELECT source, u, target, epochs, served, frac,
        |  CAST(1 << CAST(e AS INTEGER) AS DOUBLE) AS p FROM t4)
        |SELECT source, u, CAST(target AS BIGINT) AS target,
        | CAST(epochs AS BIGINT) AS epochs,
        | CAST(served AS BIGINT) AS served,
        | CAST(u AS DOUBLE) * (CAST(2 AS DOUBLE) - CAST(2 AS DOUBLE) / p)
        |  + CAST(frac AS DOUBLE) / p AS effective_chars
        |FROM t5 ORDER BY source""".stripMargin,

    // piecewise weekly OLS: exact moments -> one IEEE tree; delta
    // via the week-bounded lag window
    "ts_segmented_trend" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
        |  SUM(CAST(value AS DECIMAL(18,4))) AS y
        | FROM events GROUP BY 1, 2, 3),
        |m AS (SELECT event_type, date_trunc('week', day) AS seg,
        |  CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE) AS sx,
        |  CAST(CAST(SUM(x * x) AS BIGINT) AS DOUBLE) AS sxx,
        |  CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
        |  CAST(CAST(SUM(x * y) AS VARCHAR) AS DOUBLE) AS sxy
        | FROM daily GROUP BY 1, 2),
        |sl AS (SELECT event_type, seg, n_days,
        |  (CAST(n_days AS DOUBLE) * sxy - sx * sy)
        |   / nullif(CAST(n_days AS DOUBLE) * sxx - sx * sx,
        |       CAST(0 AS DOUBLE)) AS slope
        | FROM m)
        |SELECT event_type, CAST(seg AS DATE) AS seg, n_days, slope,
        | slope - lag(slope, 1) OVER (PARTITION BY event_type
        |   ORDER BY seg) AS slope_delta
        |FROM sl ORDER BY event_type, seg""".stripMargin,

    // truncated Katz: 4 unrolled supersteps, halving attenuation,
    // DECIMAL(38,18) per-node sums via the VARCHAR double route
    "graph_katz" -> {
      def step(k: Int): String =
        s"""s$k AS (SELECT e.dst,
           |  CAST(CAST(SUM(CAST(x.katz AS DECIMAL(38,18))) AS VARCHAR)
           |    AS DOUBLE) AS s
           | FROM e JOIN x${k - 1} x ON e.src = x.node GROUP BY 1),
           |x$k AS (SELECT n.node,
           |  0.5 * coalesce(s$k.s, CAST(0 AS DOUBLE))
           |   + CAST(1 AS DOUBLE) AS katz
           | FROM n LEFT JOIN s$k ON n.node = s$k.dst)""".stripMargin
      s"""WITH e AS (SELECT DISTINCT c_custkey AS src,
         |  c_custkey // 2 AS dst FROM customer
         | WHERE c_custkey > 1 AND c_custkey != c_custkey // 2),
         |n AS (SELECT src AS node FROM e
         |  UNION SELECT dst AS node FROM e),
         |x0 AS (SELECT node, CAST(1 AS DOUBLE) AS katz FROM n),
         |${step(1)},
         |${step(2)},
         |${step(3)},
         |${step(4)}
         |SELECT node, katz FROM x4 ORDER BY node""".stripMargin
    },

    "pipe_value_histogram" ->
      """SELECT CAST(floor(value / 5e0) AS BIGINT) AS bucket,
        | count(*) AS n,
        | CAST(floor(value / 5e0) AS BIGINT) * 5e0 AS bucket_low
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,

    "pipe_interleave" ->
      """WITH r AS (SELECT lang, doc_id,
        |  CAST(row_number() OVER (PARTITION BY lang ORDER BY doc_id)
        |    AS BIGINT) AS src_rank FROM documents)
        |SELECT lang, doc_id, src_rank,
        | CAST(src_rank AS DOUBLE) /
        |   (CASE WHEN lang = 'en' THEN 2e0 ELSE 1e0 END) AS mix_pos
        |FROM r ORDER BY mix_pos, lang, doc_id""".stripMargin,

    "x_unpivot" ->
      """SELECT l_orderkey, l_linenumber, metric, val FROM (
        | SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
        |  l_quantity AS val FROM lineitem WHERE l_orderkey <= 2000
        | UNION ALL
        | SELECT l_orderkey, l_linenumber, 'l_extendedprice',
        |  l_extendedprice FROM lineitem WHERE l_orderkey <= 2000
        | UNION ALL
        | SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        |  FROM lineitem WHERE l_orderkey <= 2000)
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,

    "x_binary_suite" ->
      """SELECT p_partkey,
        | base64(encode(p_name)) AS b64,
        | to_hex(p_partkey) AS hx,
        | CAST(bit_length(p_name) AS INTEGER) AS bl,
        | CAST(octet_length(encode(p_name)) AS INTEGER) AS ol,
        | decode(from_base64(base64(encode(p_name)))) = p_name AS rt_ok,
        | sha256(p_name) AS sha
        |FROM part WHERE p_partkey <= 500
        |ORDER BY p_partkey""".stripMargin,

    "x_bitwise_suite" ->
      """SELECT o_orderkey,
        | o_orderkey & 255 AS b_and,
        | o_orderkey | 16 AS b_or,
        | xor(o_orderkey, 85) AS b_xor,
        | o_orderkey << 2 AS b_shl,
        | o_orderkey >> 3 AS b_shr,
        | CAST(bit_count(o_orderkey) AS INTEGER) AS b_cnt
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "pipe_pack_sequences" ->
      s"""WITH t AS (SELECT lang, doc_id,
         |  CAST(len($duckTokens) AS BIGINT) AS n_tokens FROM documents),
         |c AS (SELECT lang, doc_id, n_tokens,
         |  CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cum_tokens FROM t)
         |SELECT lang, doc_id, n_tokens, cum_tokens,
         | CAST(floor(CAST(cum_tokens - n_tokens AS DOUBLE) / 512e0)
         |   AS BIGINT) AS seq_id,
         | cum_tokens - n_tokens
         |   - CAST(floor(CAST(cum_tokens - n_tokens AS DOUBLE) / 512e0)
         |       AS BIGINT) * 512 AS seq_offset
         |FROM c ORDER BY lang, doc_id""".stripMargin,

    "pipe_token_budget" -> {
      val stops = TextOps.EnglishStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH t AS (SELECT doc_id, text, $duckTokens AS toks FROM documents),
         |c AS (SELECT doc_id,
         |  CAST(len(toks) AS DOUBLE) AS n,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(length(text) AS DOUBLE) AS chars,
         |  CAST(len(regexp_extract_all(text, '[\\.,;:!\\?]')) AS DOUBLE) AS punct,
         |  CAST(len(list_filter(toks, tk -> list_contains($stops, tk))) AS DOUBLE) AS stop
         |  FROM t),
         |q AS (SELECT doc_id, n_tokens,
         | (CASE WHEN n >= 5 AND n <= 100000 THEN 1e0 ELSE 0e0 END) * 0.25e0
         | + (CASE WHEN chars / greatest(n, 1e0) >= 2e0
         |      AND chars / greatest(n, 1e0) <= 12e0 THEN 1e0 ELSE 0e0 END) * 0.25e0
         | + (CASE WHEN punct / greatest(chars, 1e0) <= 0.2e0 THEN 1e0 ELSE 0e0 END) * 0.25e0
         | + least(stop / greatest(n, 1e0) * 5e0, 1e0) * 0.25e0 AS quality
         |FROM c),
         |r AS (SELECT doc_id, quality, n_tokens,
         |  CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cum_tokens FROM q)
         |SELECT doc_id, quality, n_tokens, cum_tokens FROM r
         |WHERE cum_tokens <= 5000 ORDER BY doc_id""".stripMargin
    },

    "pipe_contamination" ->
      s"""WITH $duckShingles,
         |bench AS (SELECT DISTINCT sh FROM shm WHERE doc_id % 50 = 0),
         |corp AS (SELECT doc_id, sh FROM shm WHERE doc_id % 50 != 0)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap
         |FROM corp JOIN bench USING (sh)
         |GROUP BY doc_id HAVING count(*) >= 1 ORDER BY doc_id""".stripMargin,

    "dedup_cross_corpus" ->
      """WITH ref AS (SELECT DISTINCT md5(text) AS text_hash FROM documents
        |  WHERE doc_id % 10 = 0),
        |c AS (SELECT doc_id, md5(text) AS text_hash FROM documents
        |  WHERE doc_id % 10 != 0)
        |SELECT text_hash, doc_id FROM c
        |WHERE text_hash NOT IN (SELECT text_hash FROM ref)
        |ORDER BY doc_id""".stripMargin,

    "dedup_normalized" ->
      """SELECT md5(trim(regexp_replace(
        |   regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |   ' +', ' ', 'g'))) AS norm_hash,
        | CAST(min(doc_id) AS BIGINT) AS keep_id,
        | CAST(count(*) AS BIGINT) AS dup_count
        |FROM documents GROUP BY 1 ORDER BY norm_hash""".stripMargin,

    "text_repetition" ->
      s"""WITH t AS (SELECT doc_id, $duckTokens AS w FROM documents),
         |g AS (SELECT doc_id,
         |  CASE WHEN len(w) < 2 THEN [array_to_string(w, ' ')]
         |  ELSE list_transform(range(1, len(w)),
         |    i -> array_to_string(w[i:i+1], ' ')) END AS grams FROM t)
         |SELECT doc_id,
         | 1e0 - CAST(len(list_distinct(grams)) AS DOUBLE)
         |   / CAST(len(grams) AS DOUBLE) AS rep_ratio
         |FROM g ORDER BY doc_id""".stripMargin,

    "text_pii_scan" -> {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"
      s"""WITH t AS (SELECT doc_id, text ||
         | (CASE WHEN doc_id % 7 = 0
         |   THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
         |   ELSE '' END) ||
         | (CASE WHEN doc_id % 11 = 0 THEN ' call 555-123-4567' ELSE '' END)
         |   AS itext FROM documents)
         |SELECT doc_id,
         | CAST(len(regexp_extract_all(itext, '$email')) AS BIGINT) AS n_emails,
         | CAST(len(regexp_extract_all(itext, '$phone')) AS BIGINT) AS n_phones,
         | (len(regexp_extract_all(itext, '$email'))
         |   + len(regexp_extract_all(itext, '$phone'))) > 0 AS has_pii
         |FROM t ORDER BY doc_id""".stripMargin
    },

    "merge_latest_state" ->
      s"""WITH bill AS ($billCte)
         |SELECT * FROM (
         | SELECT shop_key, page_views, 'pending' AS status FROM bill
         |  WHERE page_views <= 0
         | UNION ALL
         | SELECT shop_key, page_views, 'charged' AS status FROM bill
         |  WHERE page_views > 0)
         |ORDER BY shop_key""".stripMargin,

    // ---- more relational surface ----

    "rollup_order_stats" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr, o_orderstatus,
        | count(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY ROLLUP (CAST(year(o_orderdate) AS INTEGER), o_orderstatus)
        |ORDER BY yr ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""".stripMargin,

    "agg_distinct_orders" ->
      """SELECT o_custkey, count(*) AS n_orders,
        | count(DISTINCT o_orderstatus) AS n_statuses,
        | min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
        | min(o_orderdate) AS first_order, max(o_orderdate) AS last_order
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "x_string_suite" ->
      """SELECT p_partkey,
        | lpad(p_brand, 12, '*') AS brand_lpad,
        | rpad(p_brand, 12, '.') AS brand_rpad,
        | regexp_replace(p_name, ' ', '_', 'g') AS name_snake,
        | reverse(p_type) AS type_rev,
        | repeat(substr(p_brand, 1, 2), 2) AS brand_rep,
        | CAST(strpos(p_name, 'a') AS BIGINT) AS first_a,
        | concat_ws('-', p_brand, p_type) AS brand_type
        |FROM part ORDER BY p_partkey""".stripMargin,

    "x_date_suite" ->
      """SELECT o_orderkey,
        | CAST(year(o_orderdate) AS INTEGER) AS yr,
        | CAST(month(o_orderdate) AS INTEGER) AS mo,
        | CAST(day(o_orderdate) AS INTEGER) AS dy,
        | CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
        | date_trunc('month', o_orderdate) AS month_start,
        | o_orderdate + INTERVAL 7 DAY AS plus_week,
        | last_day(CAST(o_orderdate AS DATE)) AS month_end,
        | CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
        |  AS INTEGER) AS days_since_epoch
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "x_interval_suite" ->
      """SELECT o_orderkey,
        | CAST(o_orderdate + INTERVAL 1 MONTH AS DATE) AS plus_month,
        | CAST(o_orderdate - INTERVAL 2 MONTH AS DATE) AS minus_2mo,
        | CAST(o_orderdate AS DATE) + 45 AS plus_45d,
        | CAST(o_orderdate - INTERVAL 36 HOUR AS DATE) AS minus_36h_date
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "window_lag_lead" ->
      """SELECT o_custkey, o_orderkey,
        | lag(o_totalprice, 1) OVER w AS prev_price,
        | lead(o_totalprice, 1) OVER w AS next_price,
        | CAST(ntile(4) OVER w AS INTEGER) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "x_array_suite" ->
      """WITH t AS (SELECT doc_id,
        |  string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents)
        |SELECT doc_id,
        | CAST(len(toks) AS BIGINT) AS n,
        | list_contains(toks, 'the') AS has_the,
        | toks[1] AS first_tok,
        | toks[-1] AS last_tok,
        | array_to_string(toks[1:3], '|') AS first3,
        | array_to_string(list_sort(list_distinct(toks)), '|') AS sorted_distinct
        |FROM t ORDER BY doc_id""".stripMargin,

    "pivot_event_counts" -> {
      val cols = Seq("click", "error", "purchase", "signup", "view").map(ty =>
        s"count(CASE WHEN event_type = '$ty' THEN 1 END) AS \"$ty\"")
        .mkString(", ")
      s"""SELECT user_id, $cols FROM events
         |GROUP BY user_id ORDER BY user_id""".stripMargin
    },

    "x_posexplode" ->
      """SELECT doc_id,
        | CAST(unnest(generate_series(1, len(toks))) AS BIGINT) AS pos,
        | unnest(toks) AS token FROM (
        | SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        | FROM documents WHERE doc_id < 20) t
        |ORDER BY doc_id, pos""".stripMargin,

    "sql_q6_revenue_delta" ->
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(22,6)))
        |  AS DOUBLE) AS revenue_delta, count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        | AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        | AND l_discount >= CAST(0.05 AS DOUBLE)
        | AND l_discount <= CAST(0.07 AS DOUBLE)
        | AND l_quantity < 24""".stripMargin,

    "x_null_suite" ->
      """SELECT l_orderkey, l_linenumber,
        | nullif(l_tax, CAST(0 AS DOUBLE)) AS tax_or_null,
        | coalesce(nullif(l_tax, CAST(0 AS DOUBLE)), CAST(-1 AS DOUBLE))
        |  AS tax_or_default,
        | (nullif(l_returnflag, 'N') IS NULL) AS is_n_flag
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "join_null_safe" ->
      """WITH ev AS (SELECT event_type,
        |  CASE WHEN user_id % 97 = 0 THEN NULL ELSE user_id END AS uid
        |  FROM events),
        |v AS (SELECT uid, CAST(count(*) AS BIGINT) AS n_views FROM ev
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT uid, CAST(count(*) AS BIGINT) AS n_clicks FROM ev
        |  WHERE event_type = 'click' GROUP BY 1)
        |SELECT COALESCE(v.uid, c.uid) AS user_id,
        | COALESCE(n_views, 0) AS n_views,
        | COALESCE(n_clicks, 0) AS n_clicks
        |FROM v FULL JOIN c ON v.uid IS NOT DISTINCT FROM c.uid
        |ORDER BY user_id NULLS FIRST""".stripMargin,

    "agg_collect_suite" ->
      """SELECT l_returnflag,
        | array_to_string(list_sort(list(DISTINCT l_linestatus)), ',')
        |   AS statuses,
        | array_to_string(list_transform(
        |   list_sort(list(DISTINCT CAST(l_shipdate AS DATE)))[1:3],
        |   x -> CAST(x AS VARCHAR)), ',') AS first3_dates
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "window_rank_dense" ->
      """SELECT o_orderkey, o_orderstatus, o_orderpriority,
        | CAST(rank() OVER (PARTITION BY o_orderstatus
        |   ORDER BY o_orderpriority) AS INTEGER) AS rnk,
        | CAST(dense_rank() OVER (PARTITION BY o_orderstatus
        |   ORDER BY o_orderpriority) AS INTEGER) AS drnk
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "x_generator_suite" ->
      """SELECT r_regionkey, u.tag FROM region
        |LEFT JOIN LATERAL (
        |  SELECT unnest(CASE WHEN r_regionkey % 2 = 0
        |    THEN ['a', 'b'] ELSE [] END) AS tag) u ON TRUE
        |ORDER BY r_regionkey, tag NULLS FIRST""".stripMargin,

    "x_map_suite" ->
      """SELECT r_regionkey,
        | '{"name":"' || r_name || '","key":"' ||
        |   CAST(r_regionkey AS VARCHAR) || '"}' AS m_json,
        | r_name AS name_via_map,
        | 'a,b' AS ks,
        | CAST(2 AS INTEGER) AS n_entries
        |FROM region ORDER BY r_regionkey""".stripMargin,

    "x_regex_suite" ->
      """SELECT p_partkey,
        | regexp_extract(p_name, '([a-z]+) ([a-z]+)', 2) AS second_word,
        | regexp_matches(p_name, '^[a-z]+ ') AS starts_word,
        | CAST(len(regexp_extract_all(p_name, 'a')) AS BIGINT) AS n_a,
        | regexp_replace(p_type, '[aeiou]', '_', 'g') AS devoweled
        |FROM part ORDER BY p_partkey""".stripMargin,

    // ASOF match post-filtered by the tolerance — a too-far nearest
    // match nulls out rather than falling back, like merge_asof
    "join_asof_tolerance" ->
      """SELECT p.event_id, p.user_id, p.ts,
        | CASE WHEN epoch_us(p.ts) - epoch_us(v.ts) <= 3600000000
        |  THEN v.ts END AS last_view_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN
        | (SELECT user_id, ts FROM events WHERE event_type = 'view') v
        |ON p.user_id = v.user_id AND v.ts <= p.ts
        |ORDER BY p.event_id""".stripMargin,

    "join_asof_last_view" ->
      """SELECT p.event_id, p.user_id, p.ts, v.ts AS last_view_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN
        | (SELECT user_id, ts FROM events WHERE event_type = 'view') v
        |ON p.user_id = v.user_id AND v.ts <= p.ts
        |ORDER BY p.event_id""".stripMargin,

    "join_asof_next_view" ->
      """SELECT p.event_id, p.user_id, p.ts, v.ts AS next_view_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN
        | (SELECT user_id, ts FROM events WHERE event_type = 'view') v
        |ON p.user_id = v.user_id AND v.ts >= p.ts
        |ORDER BY p.event_id""".stripMargin,

    // decoded-PGM dims (same width rule as mm_decoded_features), then
    // the aspect-preserving cap at 32 in IEEE double arithmetic
    "mm_resize_dims" ->
      """WITH t AS (SELECT doc_id AS media_id,
        |  octet_length(encode(text)) AS n FROM documents),
        |d AS (SELECT media_id,
        |  CAST(8 + (n % 57) AS INTEGER) AS width,
        |  CAST((greatest(n, 1) + (8 + (n % 57)) - 1)
        |   // (8 + (n % 57)) AS INTEGER) AS height
        |  FROM t)
        |SELECT media_id, width, height,
        | CASE WHEN greatest(width, height) > 32
        |  THEN CAST(floor(CAST(width AS DOUBLE)
        |    * (32e0 / CAST(greatest(width, height) AS DOUBLE))) AS INTEGER)
        |  ELSE width END AS out_width,
        | CASE WHEN greatest(width, height) > 32
        |  THEN CAST(floor(CAST(height AS DOUBLE)
        |    * (32e0 / CAST(greatest(width, height) AS DOUBLE))) AS INTEGER)
        |  ELSE height END AS out_height
        |FROM d ORDER BY media_id""".stripMargin,

    "join_range_price_bands" ->
      """SELECT band_id, band, CAST(count(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(22,6))) AS DOUBLE) AS total
        |FROM (VALUES
        | (0,'sub1k',CAST(0 AS DOUBLE),CAST(1000 AS DOUBLE)),
        | (1,'1k-5k',CAST(1000 AS DOUBLE),CAST(5000 AS DOUBLE)),
        | (2,'5k-20k',CAST(5000 AS DOUBLE),CAST(20000 AS DOUBLE)),
        | (3,'20k-50k',CAST(20000 AS DOUBLE),CAST(50000 AS DOUBLE)),
        | (4,'50kplus',CAST(50000 AS DOUBLE),CAST(200000 AS DOUBLE)))
        | b(band_id,band,lo,hi)
        |JOIN lineitem ON l_extendedprice >= lo AND l_extendedprice < hi
        |GROUP BY band_id, band ORDER BY band_id""".stripMargin,

    "groupingsets_order_mix" ->
      """SELECT o_orderstatus, o_orderpriority,
        | CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(22,6))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
        | (o_orderstatus, o_orderpriority), ())
        |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin,

    "subq_exists_returns" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        | AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        | AND EXISTS (SELECT 1 FROM lineitem
        |   WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "subq_scalar_q17" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(22,6))) AS DOUBLE)
        |  / CAST(7 AS DOUBLE) AS avg_yearly,
        | CAST(count(*) AS BIGINT) AS n
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#4' AND p_size < 15
        | AND l_quantity < (SELECT CAST(0.2 AS DOUBLE) * avg(l_quantity)
        |   FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin,

    "window_frame_suite" ->
      """SELECT o_orderkey, o_custkey,
        | first_value(o_orderkey) OVER w1 AS first_key,
        | last_value(o_orderkey) OVER wf AS last_key,
        | nth_value(o_orderkey, 2) OVER wf AS second_key,
        | percent_rank() OVER w1 AS pr,
        | cume_dist() OVER w1 AS cd,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(22,6))) OVER (
        |   PARTITION BY o_custkey ORDER BY o_orderdate
        |   RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)
        |  AS DOUBLE) AS trailing30
        |FROM orders
        |WINDOW w1 AS (PARTITION BY o_custkey
        |   ORDER BY o_orderdate, o_orderkey),
        | wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_orderkey""".stripMargin,

    "ts_interpolate" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events WHERE user_id < 40),
        | spine AS (SELECT user_id, CAST(g AS DATE) AS day
        |  FROM u, generate_series(DATE '2024-01-01', DATE '2024-01-30',
        |   INTERVAL 1 DAY) t(g)),
        | daily AS (SELECT user_id, CAST(ts AS DATE) AS day, max(value) AS v
        |  FROM events WHERE user_id < 40 GROUP BY 1, 2),
        | j AS (SELECT s.user_id, s.day, d.v FROM spine s
        |  LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day),
        | w AS (SELECT user_id, day, v,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
        |   ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS pv,
        |  last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
        |   OVER (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
        |  first_value(v IGNORE NULLS) OVER (PARTITION BY user_id
        |   ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |   AS nv,
        |  first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
        |   OVER (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
        | FROM j)
        |SELECT user_id, day, v,
        | CASE WHEN v IS NOT NULL THEN v
        |  WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
        |   pv + (nv - pv) * (CAST(date_diff('day', pd, day) AS DOUBLE)
        |    / CAST(date_diff('day', pd, nd) AS DOUBLE))
        | END AS v_interp
        |FROM w ORDER BY 1, 2""".stripMargin,

    "ts_gapfill" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events WHERE user_id < 40),
        | spine AS (SELECT user_id, CAST(g AS DATE) AS day
        |  FROM u, generate_series(DATE '2024-01-01', DATE '2024-01-30',
        |   INTERVAL 1 DAY) t(g)),
        | daily AS (SELECT user_id, CAST(ts AS DATE) AS day, max(value) AS v,
        |  CAST(count(*) AS BIGINT) AS n FROM events
        |  WHERE user_id < 40 GROUP BY 1, 2)
        |SELECT s.user_id, s.day, COALESCE(d.n, 0) AS n_events,
        | last_value(d.v IGNORE NULLS)
        |  OVER (PARTITION BY s.user_id ORDER BY s.day) AS v_fill
        |FROM spine s
        |LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
        |ORDER BY 1, 2""".stripMargin,

    "having_large_orders" ->
      """SELECT o_orderkey, o_orderdate, CAST(o_totalprice AS DOUBLE) AS total,
        | q.sum_qty
        |FROM orders JOIN (SELECT l_orderkey,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING SUM(CAST(l_quantity AS BIGINT)) > 220) q
        |ON q.l_orderkey = o_orderkey ORDER BY o_orderkey""".stripMargin,

    "src_csv_roundtrip" ->
      "SELECT * FROM nation ORDER BY n_nationkey",

    "src_json_roundtrip" ->
      "SELECT * FROM region ORDER BY r_regionkey",

    "src_orc_roundtrip" ->
      "SELECT * FROM supplier ORDER BY s_suppkey",

    // partitioning is storage-layout only — the oracle filters directly
    "src_partitioned_prune" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-15'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // skip-rate pinned as literals: 3 disjoint segments, 1 overlaps
    "src_restore_log" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(n_chars) AS BIGINT) AS chars,
        | CAST(3 AS BIGINT) AS restored_version,
        | (SELECT CAST(count(*) AS BIGINT) FROM documents
        |   WHERE lang <> 'en') AS pre_restore_rows
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "src_bloomskip_log" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(n_chars) AS BIGINT) AS chars,
        | CAST(1 AS INTEGER) AS segments_scanned,
        | CAST(3 AS INTEGER) AS segments_live
        |FROM documents WHERE lang = 'de'
        |GROUP BY source ORDER BY source""".stripMargin,

    "src_dataskip_log" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(n_chars) AS BIGINT) AS chars,
        | CAST(1 AS INTEGER) AS segments_scanned,
        | CAST(3 AS INTEGER) AS segments_live
        |FROM documents WHERE doc_id BETWEEN 160 AND 260
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // the relational restatement of the feed: every doc inserts once;
    // [100,120] pre-images keep their original lang, post-images are
    // 'xx'; deletes are the de rows NOT re-langed by the merge;
    // the compaction contributes nothing
    "src_cdc_log" ->
      """WITH all_ch AS (
        |  SELECT 'insert' AS _change_type, lang, n_chars
        |  FROM documents
        |  UNION ALL
        |  SELECT 'update_preimage', lang, n_chars FROM documents
        |  WHERE doc_id BETWEEN 100 AND 120
        |  UNION ALL
        |  SELECT 'update_postimage', 'xx', n_chars FROM documents
        |  WHERE doc_id BETWEEN 100 AND 120
        |  UNION ALL
        |  SELECT 'delete', lang, n_chars FROM documents
        |  WHERE lang = 'de' AND doc_id NOT BETWEEN 100 AND 120)
        |SELECT _change_type, lang, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM all_ch GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the merged state = all docs with [160,170] re-langed plus the
    // five inserted key-shifted copies; the rewrite counts are the
    // pinned copy-on-write pruning (1 segment for the update, 0 for
    // the out-of-range insert)
    "src_merge_log" ->
      """WITH merged AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id BETWEEN 160 AND 170 THEN 'xx'
        |         ELSE lang END AS lang, n_chars
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, lang, n_chars FROM documents
        |  WHERE doc_id < 5)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(n_chars) AS BIGINT) AS chars,
        | CAST(1 AS INTEGER) AS upd_rewritten,
        | CAST(3 AS INTEGER) AS upd_live,
        | CAST(0 AS INTEGER) AS ins_rewritten,
        | CAST(3 AS INTEGER) AS ins_live
        |FROM merged GROUP BY lang ORDER BY lang""".stripMargin,

    // the log-table life cycle lands at "all docs minus the deleted
    // lang", with version 0 = the first (en-only) append
    "src_timetravel_log" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(n_chars) AS BIGINT) AS chars,
        | CAST(CASE WHEN lang = 'en' THEN count(*) ELSE 0 END
        |   AS BIGINT) AS n_v0
        |FROM documents WHERE lang != 'de'
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // the delete rewrite prunes to the one overlapping segment; the
    // result is the complement of the purged range, the feed its body
    "src_deleterange_log" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(n_chars) AS BIGINT) AS chars,
        | CAST(1 AS INTEGER) AS del_rewritten,
        | CAST(3 AS INTEGER) AS del_live,
        | CAST(0 AS INTEGER) AS miss_rewritten,
        | TRUE AS miss_noop,
        | (SELECT CAST(count(*) AS BIGINT) FROM documents
        |   WHERE doc_id BETWEEN 160 AND 260) AS feed_deletes
        |FROM documents WHERE doc_id NOT BETWEEN 160 AND 260
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // quadrant layout: date+key prune opens 1 of 4, date-only opens 2
    "src_multistats_log" ->
      """WITH b AS (SELECT CAST(max(user_id)//4 AS BIGINT) AS lo,
        |  CAST(max(user_id)//2 - 1 AS BIGINT) AS hi FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |   AS sum_value,
        | CAST(1 AS INTEGER) AS segments_scanned,
        | CAST(2 AS INTEGER) AS date_only_scanned,
        | CAST(4 AS INTEGER) AS segments_live
        |FROM events, b
        |WHERE CAST(ts AS DATE)
        |    BETWEEN DATE '2024-01-20' AND DATE '2024-01-25'
        |  AND user_id BETWEEN b.lo AND b.hi
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the optimize rewrite is layout-only: the oracle is the plain
    // rectangle aggregate plus the pinned skip literals (4 oblivious
    // segments all scanned before; 8 clustered ones after, strictly
    // fewer scanned; zero feed rows; row count unchanged)
    "src_optimize_log" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rect,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(4 AS INTEGER) AS segments_before,
        | CAST(4 AS INTEGER) AS pre_scanned,
        | CAST(8 AS INTEGER) AS segments_after,
        | TRUE AS optimize_improves_skip,
        | CAST(0 AS BIGINT) AS feed_rows,
        | (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |   WHERE l_orderkey <= 2000) AS snapshot_rows,
        | TRUE AS snapshot_invariant
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 100 AND 400
        |  AND l_partkey BETWEEN 100 AND 400""".stripMargin,

    // subset optimize is layout-only: the oracle is the plain
    // aggregate plus the pinned selection literals (4 of 6 segments
    // rewritten into 4, 2 carried by name, probe opens 4 before,
    // strictly fewer after, silent feed, invariant snapshot, free
    // no-op on an empty selection)
    "src_optimize_where" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(n_chars) AS BIGINT) AS chars,
        | CAST(4 AS INTEGER) AS rewritten,
        | CAST(2 AS INTEGER) AS carried,
        | CAST(4 AS INTEGER) AS produced,
        | CAST(4 AS INTEGER) AS pre_scanned,
        | TRUE AS carried_same,
        | TRUE AS optimize_improves_skip,
        | CAST(0 AS BIGINT) AS feed_rows,
        | TRUE AS snapshot_invariant,
        | TRUE AS noop_pinned
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // the batch feed is inserts (every doc, via the two appends) +
    // the delete's rows; the delete-rewrite's add and the compaction
    // contribute nothing
    "src_feed_batch" ->
      """SELECT * FROM (
        | SELECT 'insert' AS _change_type, lang,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS chars
        | FROM documents GROUP BY lang
        | UNION ALL
        | SELECT 'delete' AS _change_type, lang,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS chars
        | FROM documents WHERE lang = 'ja' GROUP BY lang)
        |ORDER BY _change_type, lang""".stripMargin,

    // the connector write/read plumbing is transparent — the oracle is
    // the plain filtered aggregate; `pruned` pins the skip as TRUE
    "src_connector_rt" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |   AS sum_value,
        | TRUE AS pruned
        |FROM events WHERE event_id BETWEEN 600 AND 900
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the table stream must equal the table: the plain aggregate
    "stream_table_tail" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |   AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // the streaming upsert sink must converge to the batch aggregate
    // of everything it consumed — across the restart, exactly once
    "stream_upsert_state" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |   AS sum_value
        |FROM events WHERE event_id % 5 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // watermark semantics pinned as literals: finalized windows only
    // (hour 3 withheld — its end is past the final watermark), the
    // late 00:15 row dropped
    "stream_watermark_counts" ->
      """SELECT * FROM (VALUES
        | (TIMESTAMP '2024-01-01 00:00:00', 'a', CAST(2 AS BIGINT)),
        | (TIMESTAMP '2024-01-01 00:00:00', 'b', CAST(1 AS BIGINT)),
        | (TIMESTAMP '2024-01-01 01:00:00', 'a', CAST(1 AS BIGINT)),
        | (TIMESTAMP '2024-01-01 02:00:00', 'b', CAST(1 AS BIGINT))
        |) AS t(window_start, k, n)
        |ORDER BY window_start, k""".stripMargin,

    // SQL DELETE is semantics, not plumbing: the oracle recomputes
    // the remainder on the source rows
    "src_sql_delete" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |   AS sum_value
        |FROM events
        |WHERE NOT (event_id BETWEEN 100 AND 199)
        |  AND event_id NOT IN (5, 10, 15)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // SQL UPDATE is semantics, not plumbing: the oracle recomputes
    // the post-update state on the source rows (×2 is an exact IEEE
    // multiply — parity-safe per row)
    "src_sql_update" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(CASE WHEN event_id BETWEEN 100 AND 199
        |   THEN value * 2 ELSE value END AS DECIMAL(18,4)))
        |   AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // SQL MERGE: the oracle is the merged state recomputed — updates
    // re-tripled, the deleted slice dropped, the grafted rows added
    "src_sql_merge" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM (
        |  SELECT event_type,
        |    CASE WHEN event_id BETWEEN 50 AND 149 THEN value * 3
        |         ELSE value END AS v
        |  FROM events WHERE NOT (event_id BETWEEN 150 AND 159)
        |  UNION ALL
        |  SELECT 'merged-in' AS event_type, value AS v
        |  FROM events WHERE event_id < 10
        |) GROUP BY 1 ORDER BY 1""".stripMargin,

    // deletion vectors are semantics: the oracle recomputes the
    // remainder (97-modulo scatter + the clustered range) on the
    // source rows; no_rewrite pins the zero-bytes-rewritten claim
    "src_dv_delete" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |   AS sum_value,
        | TRUE AS no_rewrite
        |FROM events
        |WHERE NOT (event_id % 97 = 3)
        |  AND NOT (event_id BETWEEN 100 AND 109)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // SQL CALL maintenance is layout only — the oracle is the plain
    // aggregate; the pin records that the SQL-driven recluster prunes
    "src_sql_maintenance" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |   AS sum_value,
        | TRUE AS sql_optimize_prunes
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // ALTER ADD COLUMN is metadata-only: the oracle recomputes the
    // evolved state on the source rows — pre-evolution rows carry
    // NULL in the added column (n_valued counts only the new slice);
    // evolve_pins records zero-data-bytes + old-shape time travel
    "src_sql_evolve" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(count(CASE WHEN event_id >= 500 THEN value END)
        |   AS BIGINT) AS n_valued,
        | CAST(SUM(CAST(CASE WHEN event_id >= 500 THEN value END
        |   AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        | TRUE AS evolve_pins
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // INSERT OVERWRITE is semantics: the oracle recomputes the
    // overwritten content; overwrite_pins records one-commit
    // atomicity, time travel, and the honest diff feed
    "src_sql_overwrite" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |   AS sum_value,
        | TRUE AS overwrite_pins
        |FROM events WHERE event_id % 2 = 1
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // SET TBLPROPERTIES is metadata only — the oracle is the plain
    // aggregate; setprops_pins records the config-after-the-fact
    // prune and the positional-bounds clearance
    "src_sql_setprops" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |   AS sum_value,
        | TRUE AS setprops_pins
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // the rename is metadata only — the oracle aggregates the source
    // under the NEW name; rename_pins records the one-commit /
    // zero-segment / old-shape-time-travel evidence
    "src_sql_rename" ->
      """SELECT event_type AS kind, CAST(count(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |   AS sum_value,
        | TRUE AS rename_pins
        |FROM events WHERE event_id < 1000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the widen is metadata only — the oracle recomputes both halves
    // from the source (narrow half routed through FLOAT, wide half
    // offset past Int range); widen_pins records the two-commit /
    // zero-segment / old-shape-time-travel / widened-bound-prune
    // evidence
    "src_sql_widen" ->
      """WITH t AS (
        |  SELECT CAST(event_id AS BIGINT) AS eid,
        |    CAST(CAST(value AS FLOAT) AS DOUBLE) AS score
        |  FROM events WHERE event_id < 500
        |  UNION ALL
        |  SELECT CAST(event_id + 3000000000 AS BIGINT),
        |    CAST(value AS DOUBLE)
        |  FROM events WHERE event_id >= 500 AND event_id < 1000)
        |SELECT eid % 10 AS g, CAST(count(*) AS BIGINT) AS n,
        | CAST(SUM(eid) AS BIGINT) AS sum_eid,
        | CAST(SUM(CAST(score AS DECIMAL(18,4))) AS DOUBLE)
        |   AS sum_score,
        | TRUE AS widen_pins
        |FROM t GROUP BY eid % 10 ORDER BY g""".stripMargin,

    // the sharded checkpoint is layout only — the oracle is the plain
    // aggregate; ckpt_shard_pins records the part/sidecar layout,
    // the 1-of-8 stats-only prune and the sidecar-served Bloom probe
    "src_ckpt_shard" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |   AS sum_value,
        | TRUE AS ckpt_shard_pins
        |FROM events WHERE event_id < 1000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // each probe's ROWS are the correctness claim (pruning must never
    // change results); bloom_multi_pins records the per-column skip +
    // bits-change clearance evidence
    "src_bloom_multi" ->
      """SELECT probe, event_id, value, TRUE AS bloom_multi_pins
        |FROM (
        |  SELECT 'doc-123' AS probe, event_id, value FROM events
        |  WHERE event_id < 2000 AND event_id = 123
        |  UNION ALL
        |  SELECT 'url-123' AS probe, event_id, value FROM events
        |  WHERE event_id < 2000 AND event_id % 997 = 123)
        |ORDER BY probe, event_id""".stripMargin,

    // the string-keyed UPDATE must land on exactly its rows — the
    // oracle rewrites them with CASE; string_stats_pins records the
    // 1-of-4 static prune evidence
    "src_string_stats" ->
      """WITH src AS (
        |  SELECT event_type,
        |    CASE WHEN event_id = 123 THEN value * 2 ELSE value END
        |      AS value
        |  FROM events WHERE event_id < 1000)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |   AS sum_value,
        | TRUE AS string_stats_pins
        |FROM src GROUP BY 1 ORDER BY 1""".stripMargin,

    // log trim is retention only — the oracle is the plain aggregate;
    // log_trim_pins records the bounded-directory + refusal evidence
    "src_log_trim" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |   AS sum_value,
        | TRUE AS log_trim_pins
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // clustered ingest is layout only — the oracle is the plain
    // filtered aggregate; first_write_prunes pins the 1-of-8 probe
    "src_clustered_write" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |   AS sum_value,
        | TRUE AS first_write_prunes
        |FROM events WHERE event_id BETWEEN 300 AND 420
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the stats aggregate must EQUAL the plain computation; the
    // marker boolean pins that the log, not a scan, answered it
    "src_agg_pushdown_log" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        | min(doc_id) AS min_doc, max(doc_id) AS max_doc,
        | min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        | TRUE AS answered_from_log
        |FROM documents""".stripMargin,

    // the SQL catalog is plumbing — the oracle is the plain filtered
    // aggregate; v1_pinned pins the time-travel count as TRUE
    "src_sql_catalog" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |   AS sum_value,
        | TRUE AS v1_pinned
        |FROM events WHERE event_id BETWEEN 600 AND 900
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // bucketing is plan-layout only — the oracle is the plain join+agg
    "src_bucketed_join" ->
      """SELECT o_orderkey, count(*) AS n_lines,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
        |   AS sum_price,
        | max(o_totalprice) AS total_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderkey HAVING count(*) >= 5
        |ORDER BY o_orderkey""".stripMargin,

    "src_text_roundtrip" ->
      "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey",

    "src_synth_pushdown" ->
      """SELECT i AS id, 'row-' || CAST(i AS VARCHAR) AS payload
        |FROM range(1000, 2000) t(i) WHERE i % 16 = 3
        |ORDER BY id""".stripMargin,

    "src_synth_agg_pushdown" ->
      """SELECT CAST(count(*) AS BIGINT) AS n, min(i) AS min_id,
        | max(i) AS max_id
        |FROM range(1234, 98765) t(i)""".stripMargin,

    "skew_salted_agg" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "skew_salted_join" ->
      """WITH dim AS (SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS type_total
        | FROM events GROUP BY event_type)
        |SELECT e.event_type, e.event_id, e.value, d.type_total
        |FROM events e JOIN dim d ON e.event_type = d.event_type
        |WHERE e.event_id <= 5000 ORDER BY e.event_id""".stripMargin,

    "agg_topk_per_type" ->
      """SELECT event_type, rank, user_id, n FROM (
        | SELECT event_type, user_id, n, row_number() OVER (
        |   PARTITION BY event_type ORDER BY n DESC, user_id ASC) AS rank
        | FROM (SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n
        |   FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2))
        |WHERE rank <= 3 ORDER BY event_type, rank""".stripMargin,

    "q12_late_shipments" ->
      """SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
        | CAST(count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |   THEN 1 END) AS BIGINT) AS high_line_count,
        | CAST(count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |   THEN 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q10_returned_revenue" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        | CAST(SUM(CAST(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
        |   AS DECIMAL(22,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        | AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        | AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q19_branch_revenue" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
        |   AS DECIMAL(22,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15
        |   AND l_quantity BETWEEN 1 AND 20)
        | OR (p_brand = 'Brand#19' AND p_size BETWEEN 10 AND 30
        |   AND l_quantity BETWEEN 10 AND 35)
        | OR (p_brand = 'Brand#5' AND p_size BETWEEN 20 AND 50
        |   AND l_quantity BETWEEN 20 AND 50)""".stripMargin,

    "q2_cheapest_shipment" ->
      """WITH px AS (SELECT l_partkey, l_suppkey,
        |  min(l_extendedprice) AS mn FROM lineitem GROUP BY 1, 2),
        |best AS (SELECT l_partkey AS bk, min(mn) AS bmn FROM px GROUP BY 1)
        |SELECT p_partkey, p_name, min(l_suppkey) AS cheapest_supp,
        | min(mn) AS min_price
        |FROM px JOIN best ON l_partkey = bk AND mn = bmn
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_type = 'STANDARD' AND p_size <= 10
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,

    "q4_priority_late" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        | AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        | AND EXISTS (SELECT 1 FROM lineitem
        |   WHERE l_orderkey = o_orderkey
        |   AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q7_nation_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        | CAST(year(l_shipdate) AS INTEGER) AS l_year,
        | CAST(SUM(CAST(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
        |   AS DECIMAL(22,6))) AS DOUBLE) AS revenue
        |FROM lineitem, orders, customer, supplier, nation n1, nation n2
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        | AND l_suppkey = s_suppkey AND s_nationkey = n1.n_nationkey
        | AND c_nationkey = n2.n_nationkey
        | AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        | AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        | AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q8_market_share" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        | CAST(SUM(CAST(CASE WHEN n1.n_name = 'NATION_5'
        |     THEN l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
        |     ELSE CAST(0 AS DOUBLE) END AS DECIMAL(22,6))) AS DOUBLE)
        |  / CAST(SUM(CAST(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
        |   AS DECIMAL(22,6))) AS DOUBLE) AS mkt_share
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |WHERE EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey
        |   AND p_type = 'ECONOMY')
        | AND EXISTS (SELECT 1 FROM customer, nation n2, region
        |   WHERE o_custkey = c_custkey AND c_nationkey = n2.n_nationkey
        |   AND n2.n_regionkey = r_regionkey AND r_name = 'ASIA')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q9_profit_nation_year" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
        | CAST(SUM(CAST(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
        |   AS DECIMAL(22,6))) AS DOUBLE) AS profit
        |FROM lineitem, orders, supplier, nation
        |WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey
        | AND s_nationkey = n_nationkey
        | AND EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey
        |   AND p_name LIKE '%red%')
        |GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin,

    "q11_part_concentration" ->
      """WITH li AS (SELECT l_partkey, l_extendedprice FROM lineitem
        |  WHERE EXISTS (SELECT 1 FROM supplier, nation
        |    WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |    AND n_name = 'NATION_3'))
        |SELECT l_partkey,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(22,6))) AS DOUBLE) AS value
        |FROM li GROUP BY 1
        |HAVING CAST(SUM(CAST(l_extendedprice AS DECIMAL(22,6))) AS DOUBLE) >
        | (SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(22,6))) AS DOUBLE)
        |  FROM li) * CAST(0.001 AS DOUBLE)
        |ORDER BY value DESC, l_partkey""".stripMargin,

    "q13_order_distribution" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
        | SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        | FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |   AND o_orderpriority <> '5-LOW'
        | GROUP BY 1)
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q14_promo_revenue" ->
      """SELECT CAST(100 AS DOUBLE) *
        | CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
        |     THEN l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
        |     ELSE CAST(0 AS DOUBLE) END AS DECIMAL(22,6))) AS DOUBLE)
        | / CAST(SUM(CAST(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
        |   AS DECIMAL(22,6))) AS DOUBLE) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        | AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""".stripMargin,

    "q15_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey,
        |  CAST(SUM(CAST(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
        |    AS DECIMAL(22,6))) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    "q16_brand_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size,
        | CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 9, 13)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q18_bulk_customers" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        | sum_qty
        |FROM (SELECT l_orderkey,
        |   CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |  FROM lineitem GROUP BY 1) big
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE sum_qty > 280
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "q20_promo_shippers" ->
      """SELECT s_suppkey, s_name FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name IN ('NATION_7', 'NATION_8', 'NATION_9')
        | AND s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey
        |    AND p_type = 'PROMO')
        |  GROUP BY 1
        |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |    > 100)
        |ORDER BY s_suppkey""".stripMargin,

    "q21_last_shipper_wait" ->
      """WITH li AS (SELECT l_orderkey, l_suppkey, l_shipdate FROM lineitem
        |  WHERE EXISTS (SELECT 1 FROM orders
        |    WHERE o_orderkey = l_orderkey AND o_orderstatus = 'F')),
        |per AS (SELECT l_orderkey AS ok, max(l_shipdate) AS mx,
        |  count(DISTINCT l_suppkey) AS nsupp FROM li GROUP BY 1)
        |SELECT s_name, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS numwait
        |FROM li JOIN per ON l_orderkey = ok AND l_shipdate = mx
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE nsupp >= 2
        |GROUP BY 1 ORDER BY numwait DESC, s_name""".stripMargin,

    "sketch_countmin" -> {
      def bkt(r: Int, k: String): String =
        s"((strpos('0123456789abcdef', substr(md5('$r|' || $k), 1, 1)) - 1)" +
          s" * 16 + (strpos('0123456789abcdef', substr(md5('$r|' || $k)," +
          s" 2, 1)) - 1))"
      val exRows = (0 until 4).map(r =>
        s"SELECT $r AS r, ${bkt(r, "event_type")} AS bucket FROM events")
        .mkString("\n  UNION ALL ")
      val probeRows = (0 until 4).map(r =>
        s"SELECT event_type, $r AS r, ${bkt(r, "event_type")} AS bucket" +
          " FROM exact").mkString("\n  UNION ALL ")
      s"""WITH ex AS ($exRows),
         |cnt AS (SELECT r, bucket, CAST(count(*) AS BIGINT) AS c
         | FROM ex GROUP BY r, bucket),
         |exact AS (SELECT event_type, CAST(count(*) AS BIGINT) AS exact_n
         | FROM events GROUP BY event_type),
         |probes AS ($probeRows),
         |est AS (SELECT p.event_type, min(c.c) AS cm_est
         | FROM probes p JOIN cnt c ON p.r = c.r AND p.bucket = c.bucket
         | GROUP BY p.event_type)
         |SELECT e.event_type, e.exact_n, est.cm_est,
         | est.cm_est >= e.exact_n AS no_underestimate
         |FROM exact e JOIN est ON e.event_type = est.event_type
         |ORDER BY e.event_type""".stripMargin
    },

    "er_jw_matches" ->
      """SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        | jaro_winkler_similarity(a.p_name, b.p_name) AS jw
        |FROM part a JOIN part b
        | ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        |  AND a.p_partkey < b.p_partkey
        |WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,

    "er_blocked_matches" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        | CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
        |FROM customer a JOIN customer b
        | ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY id_a, id_b""".stripMargin,

    "sketch_heavy_hitters" ->
      """WITH e AS (SELECT CASE WHEN user_id % 7 = 0 THEN -1
        |    ELSE user_id END AS item FROM events),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e)
        |SELECT item, CAST(count(*) AS BIGINT) AS exact_cnt,
        | TRUE AS bound_ok
        |FROM e, t GROUP BY item, n
        |HAVING CAST(count(*) AS BIGINT) > n / 9
        |ORDER BY item""".stripMargin,

    // exact rank-based quantile (value at rank ceil(q·n)) per group,
    // bound flag expected TRUE — the Spark side computes it from the
    // sketch estimate's true rank; ceil(q*n) is the same IEEE double
    // product + ceil in both engines
    "sketch_kll_quantiles" ->
      """WITH v AS (SELECT l_returnflag AS grp,
        |  CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem),
        |g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n FROM v
        |  GROUP BY grp),
        |r AS (SELECT grp, v, row_number() OVER (PARTITION BY grp
        |  ORDER BY v) AS rk FROM v),
        |qq AS (SELECT unnest([CAST(0.5 AS DOUBLE),
        |  CAST(0.9 AS DOUBLE)]) AS q),
        |t AS (SELECT g.grp, qq.q, g.n,
        |  greatest(CAST(ceil(qq.q * g.n) AS BIGINT), 1) AS target
        |  FROM g CROSS JOIN qq)
        |SELECT t.grp, t.q, t.n, r.v AS exact_q, TRUE AS bound_ok
        |FROM t JOIN r ON r.grp = t.grp AND r.rk = t.target
        |ORDER BY 1, 2""".stripMargin,

    // SCD2-at-ts ≡ the latest state event at or before the fact, with
    // the engine's (ts, state) tie order — stated as a correlated
    // top-1 lookup, which DuckDB evaluates directly
    "join_temporal_scd2" ->
      """SELECT f.event_id, f.user_id, f.ts, f.value,
        | (SELECT s.event_type FROM events s
        |   WHERE s.user_id = f.user_id AND s.event_type <> 'purchase'
        |    AND s.ts <= f.ts
        |   ORDER BY s.ts DESC, s.event_type DESC LIMIT 1)
        |   AS state_at_purchase
        |FROM events f
        |WHERE f.event_type = 'purchase' AND f.user_id IS NOT NULL
        |ORDER BY f.event_id""".stripMargin,

    "scd2_user_state" ->
      """WITH r AS (SELECT user_id, ts, event_type,
        |  CASE WHEN lag(event_type) OVER w IS NULL
        |    OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type)),
        |r2 AS (SELECT user_id, ts, event_type,
        |  SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_type
        |    ROWS UNBOUNDED PRECEDING) AS run FROM r),
        |g AS (SELECT user_id, run, event_type AS state,
        |  min(ts) AS valid_from, CAST(count(*) AS BIGINT) AS n_events
        |  FROM r2 GROUP BY 1, 2, 3)
        |SELECT user_id, state, valid_from, n_events,
        | lead(valid_from) OVER w2 AS valid_to,
        | (lead(valid_from) OVER w2 IS NULL) AS is_current
        |FROM g
        |WINDOW w2 AS (PARTITION BY user_id ORDER BY run)
        |ORDER BY user_id, valid_from, state""".stripMargin,

    "snapshot_diff" ->
      """WITH o AS (SELECT o_orderkey,
        |  o_orderstatus AS old_o_orderstatus,
        |  o_totalprice AS old_o_totalprice
        | FROM orders WHERE o_orderkey % 5 <> 0),
        |n AS (SELECT o_orderkey,
        |  o_orderstatus AS new_o_orderstatus,
        |  CASE WHEN o_orderkey % 3 = 0
        |    THEN o_totalprice + CAST(10 AS DOUBLE)
        |    ELSE o_totalprice END AS new_o_totalprice
        | FROM orders WHERE o_orderkey % 7 <> 0),
        |j AS (SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |  old_o_orderstatus, old_o_totalprice,
        |  new_o_orderstatus, new_o_totalprice,
        |  CASE WHEN o.o_orderkey IS NULL THEN 'insert'
        |       WHEN n.o_orderkey IS NULL THEN 'delete'
        |       WHEN (old_o_orderstatus IS DISTINCT FROM new_o_orderstatus)
        |         OR (old_o_totalprice IS DISTINCT FROM new_o_totalprice)
        |       THEN 'update' END AS op
        | FROM o FULL JOIN n ON o.o_orderkey = n.o_orderkey)
        |SELECT * FROM j WHERE op IS NOT NULL ORDER BY o_orderkey""".stripMargin,

    "bloom_semi_join" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT')
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "agg_mode" ->
      """SELECT l_returnflag, mode_qty, n FROM (
        | SELECT l_returnflag, l_quantity AS mode_qty,
        |  CAST(count(*) AS BIGINT) AS n,
        |  row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY count(*) DESC, l_quantity ASC) AS rn
        | FROM lineitem GROUP BY l_returnflag, l_quantity)
        |WHERE rn = 1 ORDER BY l_returnflag""".stripMargin,

    "analytics_winsorize" ->
      """WITH f AS (SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.05) AS p05,
        |  quantile_cont(l_extendedprice, 0.95) AS p95
        | FROM lineitem GROUP BY l_returnflag)
        |SELECT li.l_returnflag, min(f.p05) AS p05, min(f.p95) AS p95,
        | CAST(sum(CASE WHEN li.l_extendedprice < f.p05 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_below,
        | CAST(sum(CASE WHEN li.l_extendedprice > f.p95 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_above,
        | CAST(count(*) AS BIGINT) AS n
        |FROM lineitem li JOIN f ON li.l_returnflag = f.l_returnflag
        |GROUP BY li.l_returnflag ORDER BY li.l_returnflag""".stripMargin,

    "analytics_event_bigrams" ->
      """SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT event_type, lag(event_type) OVER (
        |  PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        | FROM events)
        |WHERE prev_type IS NOT NULL
        |GROUP BY prev_type, event_type
        |ORDER BY prev_type, event_type""".stripMargin,

    "x_levenshtein" ->
      """SELECT a.n_name AS name_a, b.n_name AS name_b,
        | CAST(levenshtein(a.n_name, b.n_name) AS INTEGER) AS dist
        |FROM nation a JOIN nation b ON a.n_name < b.n_name
        |WHERE levenshtein(a.n_name, b.n_name) <= 5
        |ORDER BY name_a, name_b""".stripMargin,

    // DuckDB's damerau_levenshtein is the same full (unrestricted)
    // byte-based DL the native expression implements
    "x_damerau_levenshtein" ->
      """WITH p AS (SELECT p_partkey, p_name,
        | substr(p_name, 2, 1) || substr(p_name, 1, 1) || substr(p_name, 3)
        |  AS swapped
        | FROM part WHERE p_partkey <= 500)
        |SELECT p_partkey,
        | CAST(damerau_levenshtein(p_name, swapped) AS INTEGER) AS dl,
        | CAST(levenshtein(p_name, swapped) AS INTEGER) AS lev,
        | CAST(damerau_levenshtein(p_name, reverse(p_name)) AS INTEGER)
        |  AS dl_rev
        |FROM p ORDER BY p_partkey""".stripMargin,

    // semantics pinned per-UTF-8-byte with floor-halved transpositions
    // and the 0.7 boost threshold — see JaroWinkler's scaladoc; IEEE
    // double arithmetic in the same term order makes this hash-exact
    "x_jaro_winkler" ->
      """WITH p AS (SELECT p_partkey, p_name,
        | substr(p_name, 2, 1) || substr(p_name, 1, 1) || substr(p_name, 3)
        |  AS swapped
        | FROM part WHERE p_partkey <= 500)
        |SELECT p_partkey,
        | jaro_winkler_similarity(p_name, swapped) AS jw_swap,
        | jaro_winkler_similarity(p_name, reverse(p_name)) AS jw_rev,
        | jaro_winkler_similarity(p_name, p_name) AS jw_self
        |FROM p ORDER BY p_partkey""".stripMargin,

    // the VARCHAR hop on the wide-decimal sums matters: DuckDB's
    // hugeint-decimal → DOUBLE cast double-rounds (off by 1 ulp on
    // some values), while VARCHAR → DOUBLE is correctly rounded like
    // Spark's Decimal.toDouble; see AnalyticsOps.bivariateStats notes
    "analytics_bivariate_stats" ->
      """WITH c AS (SELECT l_returnflag,
        |  CAST(l_quantity AS DECIMAL(19,4)) AS qx,
        |  CAST(l_extendedprice AS DECIMAL(19,4)) AS qy
        | FROM lineitem),
        |s AS (SELECT l_returnflag,
        |  CAST(count(*) AS DOUBLE) AS n,
        |  CAST(CAST(SUM(qx) AS VARCHAR) AS DOUBLE) AS sx,
        |  CAST(CAST(SUM(qy) AS VARCHAR) AS DOUBLE) AS sy,
        |  CAST(CAST(SUM(qx * qy) AS VARCHAR) AS DOUBLE) AS sxy,
        |  CAST(CAST(SUM(qx * qx) AS VARCHAR) AS DOUBLE) AS sxx,
        |  CAST(CAST(SUM(qy * qy) AS VARCHAR) AS DOUBLE) AS syy
        | FROM c GROUP BY l_returnflag)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
        | (n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy))
        |   AS corr,
        | (n*sxy - sx*sy) / (n*sxx - sx*sx) AS slope,
        | (sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n AS intercept
        |FROM s ORDER BY l_returnflag""".stripMargin,

    // doubled average ranks (2·rank_min + ties − 1) are exact integers;
    // HUGEINT power sums → VARCHAR-hop to double, Pearson-on-ranks form
    "analytics_spearman" ->
      """WITH r AS (SELECT l_returnflag AS g,
        |  2*rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
        |    + count(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1
        |    AS rx,
        |  2*rank() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice)
        |    + count(*) OVER (PARTITION BY l_returnflag, l_extendedprice)
        |    - 1 AS ry
        | FROM lineitem),
        |s AS (SELECT g, CAST(count(*) AS DOUBLE) AS n,
        |  CAST(CAST(SUM(CAST(rx AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS sx,
        |  CAST(CAST(SUM(CAST(ry AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS sy,
        |  CAST(CAST(SUM(CAST(rx AS HUGEINT) * CAST(ry AS HUGEINT))
        |    AS VARCHAR) AS DOUBLE) AS sxy,
        |  CAST(CAST(SUM(CAST(rx AS HUGEINT) * CAST(rx AS HUGEINT))
        |    AS VARCHAR) AS DOUBLE) AS sxx,
        |  CAST(CAST(SUM(CAST(ry AS HUGEINT) * CAST(ry AS HUGEINT))
        |    AS VARCHAR) AS DOUBLE) AS syy
        | FROM r GROUP BY g)
        |SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n_rows,
        | (n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy))
        |   AS spearman_rho
        |FROM s ORDER BY l_returnflag""".stripMargin,

    "analytics_profile" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      cols.map(c =>
        s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
           | CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |   AS n_null,
           | CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           | CAST(min($c) AS DOUBLE) AS min_v,
           | CAST(max($c) AS DOUBLE) AS max_v
           |FROM lineitem""".stripMargin)
        .mkString("SELECT * FROM (\n", "\nUNION ALL ", "\n) ORDER BY col_name")
    },

    "dedup_containment" ->
      s"""WITH $duckShingles,
         |cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
         |  FROM shm a JOIN shm b
         |  ON a.sh = b.sh AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM shm
         |  GROUP BY doc_id),
         |common AS (SELECT c.ia, c.ib, CAST(count(*) AS BIGINT)
         |   AS n_common
         |  FROM cand c
         |  JOIN shm a ON c.ia = a.doc_id
         |  JOIN shm b ON c.ib = b.doc_id AND a.sh = b.sh
         |  GROUP BY c.ia, c.ib),
         |cont AS (SELECT ia AS id_a, ib AS id_b, n_common,
         |  CAST(n_common AS DOUBLE) / CAST(sa.n_sh AS DOUBLE)
         |    AS containment_a,
         |  CAST(n_common AS DOUBLE) / CAST(sb.n_sh AS DOUBLE)
         |    AS containment_b
         |  FROM common
         |  JOIN sizes sa ON common.ia = sa.doc_id
         |  JOIN sizes sb ON common.ib = sb.doc_id)
         |SELECT * FROM cont
         |WHERE greatest(containment_a, containment_b)
         |  >= CAST(0.5 AS DOUBLE)
         |ORDER BY id_a, id_b""".stripMargin,

    "pipe_chunk_documents" ->
      """SELECT doc_id, chunk_idx,
        | substr(text, CAST(chunk_idx * 150 + 1 AS INTEGER), 200)
        |   AS chunk,
        | CAST(length(substr(text,
        |   CAST(chunk_idx * 150 + 1 AS INTEGER), 200)) AS INTEGER)
        |   AS n_chars
        |FROM (SELECT doc_id, text, unnest(range(0,
        |  CASE WHEN length(text) <= 200 THEN 0
        |    ELSE (length(text) - 200 + 149) // 150 END + 1)) AS chunk_idx
        | FROM documents)
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    // the oracle is the PLAIN theta join — the binned decomposition
    // must be exactly equivalent, with no duplicate pairs
    "join_interval_overlap" ->
      """WITH l AS (SELECT o_orderkey AS id,
        |  date_diff('day', DATE '1970-01-01', o_orderdate) AS s,
        |  date_diff('day', DATE '1970-01-01', o_orderdate)
        |    + o_orderkey % 8 AS e
        | FROM orders WHERE o_orderkey <= 7500 AND o_custkey % 10 = 0),
        |r AS (SELECT o_orderkey AS id,
        |  date_diff('day', DATE '1970-01-01', o_orderdate) AS s,
        |  date_diff('day', DATE '1970-01-01', o_orderdate)
        |    + o_orderkey % 8 AS e
        | FROM orders WHERE o_orderkey <= 7500 AND o_custkey % 10 = 5)
        |SELECT l.id AS l_id, r.id AS r_id, l.s AS l_s, l.e AS l_e,
        | r.s AS r_s, r.e AS r_e,
        | least(l.e, r.e) - greatest(l.s, r.s) + 1 AS overlap
        |FROM l JOIN r ON l.s <= r.e AND r.s <= l.e
        |ORDER BY l_id, r_id""".stripMargin,

    // mirrors triangleCount: canonical undirected edges, (deg, id)
    // orientation, wedge join, flag-join close — integer-only math
    "graph_triangles" ->
      """WITH k AS (SELECT c_custkey AS kk FROM customer
        | WHERE c_custkey > 3),
        |e0 AS (SELECT kk AS src, kk // 2 AS dst FROM k
        | UNION ALL SELECT kk, kk // 4 FROM k),
        |und AS (SELECT DISTINCT least(src, dst) AS u,
        |  greatest(src, dst) AS v FROM e0
        | WHERE least(src, dst) <> greatest(src, dst)),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        |  SELECT u AS node FROM und UNION ALL SELECT v FROM und)
        | GROUP BY node),
        |o AS (SELECT
        |  CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v)
        |   THEN u ELSE v END AS s,
        |  CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v)
        |   THEN v ELSE u END AS t,
        |  CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v)
        |   THEN dv.deg ELSE du.deg END AS tdeg
        | FROM und JOIN deg du ON u = du.node JOIN deg dv ON v = dv.node),
        |w AS (SELECT e1.t AS b, e2.t AS c FROM o e1 JOIN o e2
        | ON e1.s = e2.s AND (e1.tdeg < e2.tdeg
        |  OR (e1.tdeg = e2.tdeg AND e1.t < e2.t)))
        |SELECT CAST(count(*) AS BIGINT) AS n_wedges,
        | CAST(count(o.s) AS BIGINT) AS n_triangles
        |FROM w LEFT JOIN o ON w.b = o.s AND w.c = o.t""".stripMargin,

    "graph_pagerank" -> {
      val iters = (1 to 3).map { i =>
        val prev = if (i == 1) "pr0" else s"pr${i - 1}"
        s"""it$i AS (SELECT e.dst AS node,
           |  CAST(CAST(SUM(CAST(CAST(p.pr / CAST(d.deg AS DOUBLE)
           |    AS VARCHAR) AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE)
           |    AS s
           |  FROM edges e JOIN $prev p ON e.src = p.node
           |  JOIN deg d ON e.src = d.src GROUP BY e.dst),
           |pr$i AS (SELECT n.node,
           |  (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
           |    + CAST(0.85 AS DOUBLE) * COALESCE(it$i.s, CAST(0 AS DOUBLE))
           |    AS pr
           |  FROM nodes n CROSS JOIN nn
           |  LEFT JOIN it$i ON n.node = it$i.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH edges AS (SELECT c_custkey AS src, c_custkey // 2 AS dst
         |  FROM customer WHERE c_custkey > 1),
         |nodes AS (SELECT DISTINCT node FROM (
         |  SELECT src AS node FROM edges
         |  UNION ALL SELECT dst FROM edges)),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
         |  FROM edges GROUP BY src),
         |pr0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.n AS pr
         |  FROM nodes CROSS JOIN nn),
         |$iters
         |SELECT node, pr FROM pr3 ORDER BY node""".stripMargin
    },

    "layout_zvalue" ->
      s"""SELECT l_orderkey, l_partkey, l_linenumber,
         | ${duckZValue(Seq("l_orderkey", "l_partkey"), 21)} AS z
         |FROM lineitem WHERE l_orderkey <= 2000
         |ORDER BY l_orderkey, l_partkey, l_linenumber""".stripMargin,

    // the identical 16 rotate-and-fold steps, unrolled as integer SQL
    // (d from the PRE-step (x, y); rotation reflects-then-swaps)
    "layout_hilbert" -> {
      val steps = (0 until 16).map { i =>
        val k = 15 - i
        val s = 1L << k
        val from = if (i == 0) "base" else s"h${i - 1}"
        s"""h$i AS (SELECT l_orderkey, l_partkey, l_linenumber,
           | d + ${s * s} * xor(
           |   3 * (CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END),
           |   (CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END)) AS d,
           | CASE WHEN (y & $s) = 0 THEN (CASE WHEN (x & $s) > 0
           |   THEN ${s - 1} - y ELSE y END) ELSE x END AS x,
           | CASE WHEN (y & $s) = 0 THEN (CASE WHEN (x & $s) > 0
           |   THEN ${s - 1} - x ELSE x END) ELSE y END AS y
           | FROM $from)""".stripMargin
      }.mkString(",\n")
      s"""WITH base AS (SELECT l_orderkey, l_partkey, l_linenumber,
         |  CAST(l_orderkey AS BIGINT) AS x,
         |  CAST(l_partkey AS BIGINT) AS y,
         |  CAST(0 AS BIGINT) AS d
         | FROM lineitem WHERE l_orderkey <= 2000),
         |$steps
         |SELECT l_orderkey, l_partkey, l_linenumber,
         | CAST(d AS BIGINT) AS h
         |FROM h15
         |ORDER BY l_orderkey, l_partkey, l_linenumber""".stripMargin
    },

    // measured skip rates: both curves over the same data, slices and
    // rect lattice; hilbert steps carry (x, y) beside the working
    // (hx, hy) registers, zvalue is the straight bit interleave
    "src_cluster_skiprate" -> {
      val steps = (0 until 16).map { i =>
        val k = 15 - i
        val s = 1L << k
        val from = if (i == 0) "hbase" else s"h${i - 1}"
        s"""h$i AS (SELECT x, y,
           | d + ${s * s} * xor(
           |   3 * (CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END),
           |   (CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END)) AS d,
           | CASE WHEN (hy & $s) = 0 THEN (CASE WHEN (hx & $s) > 0
           |   THEN ${s - 1} - hy ELSE hy END) ELSE hx END AS hx,
           | CASE WHEN (hy & $s) = 0 THEN (CASE WHEN (hx & $s) > 0
           |   THEN ${s - 1} - hx ELSE hx END) ELSE hy END AS hy
           | FROM $from)""".stripMargin
      }.mkString(",\n")
      s"""WITH base AS (SELECT CAST(l_orderkey AS BIGINT) AS x,
         |  CAST(l_partkey AS BIGINT) AS y
         | FROM lineitem WHERE l_orderkey <= 2000),
         |hbase AS (SELECT x, y, x AS hx, y AS hy,
         |  CAST(0 AS BIGINT) AS d FROM base),
         |$steps,
         |curves AS (SELECT 'hilbert' AS curve, x, y, d AS v FROM h15
         | UNION ALL
         | SELECT 'zvalue', x, y, ${duckZValue(Seq("x", "y"), 16)} AS v
         | FROM base),
         |b AS (SELECT curve, min(v) AS vmin, max(v) AS vmax
         | FROM curves GROUP BY 1),
         |sg AS (SELECT c.curve,
         |  ((c.v - b.vmin) * 48) // (b.vmax - b.vmin + 1) AS seg,
         |  min(x) AS sx0, max(x) AS sx1, min(y) AS sy0, max(y) AS sy1,
         |  CAST(count(*) AS BIGINT) AS n_rows
         | FROM curves c JOIN b ON c.curve = b.curve GROUP BY 1, 2),
         |r AS (SELECT (gx * 16 + gy) AS rect_id,
         |  gx * 128 AS qx0, gy * 128 AS qy0,
         |  gx * 128 + 127 AS qx1, gy * 128 + 127 AS qy1
         | FROM range(0, 16) t1(gx), range(0, 16) t2(gy))
         |SELECT sg.curve,
         | CAST(count(DISTINCT rect_id) AS BIGINT) AS n_rects,
         | CAST(count(DISTINCT seg) AS BIGINT) AS segs_live,
         | CAST(count(CASE WHEN sx0 <= qx1 AND sx1 >= qx0
         |   AND sy0 <= qy1 AND sy1 >= qy0 THEN 1 END) AS BIGINT)
         |  AS segs_scanned,
         | CAST(coalesce(sum(CASE WHEN sx0 <= qx1 AND sx1 >= qx0
         |   AND sy0 <= qy1 AND sy1 >= qy0 THEN n_rows END), 0)
         |  AS BIGINT) AS rows_scanned
         |FROM sg CROSS JOIN r
         |GROUP BY 1 ORDER BY curve""".stripMargin
    },

    // the oracle recomputes the NEW snapshot's aggregate DIRECTLY —
    // the Spark side must reach the same state incrementally
    // the oracle IS the full recompute the partial refresh must equal
    "incr_join_maintenance" ->
      """WITH a AS (SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 3 = 0
        |   THEN o_totalprice + CAST(10 AS DOUBLE)
        |   ELSE o_totalprice END AS o_totalprice
        | FROM orders WHERE o_orderkey % 7 <> 0),
        |b AS (SELECT c_custkey,
        |  CASE WHEN c_custkey % 13 = 0 THEN 'MOVED'
        |   ELSE c_mktsegment END AS c_mktsegment
        | FROM customer)
        |SELECT a.o_orderkey, a.o_custkey, a.o_totalprice,
        | b.c_mktsegment
        |FROM a JOIN b ON a.o_custkey = b.c_custkey
        |ORDER BY o_orderkey""".stripMargin,

    "incr_agg_maintenance" ->
      """WITH n AS (SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 11 = 0 THEN 'X' ELSE o_orderstatus END
        |    AS o_orderstatus,
        |  CASE WHEN o_orderkey % 3 = 0
        |    THEN o_totalprice + CAST(10 AS DOUBLE)
        |    ELSE o_totalprice END AS o_totalprice
        | FROM orders WHERE o_orderkey % 7 <> 0)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sm
        |FROM n GROUP BY 1 ORDER BY 1""".stripMargin,

    "analytics_cohort_retention" ->
      """WITH pu AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
        |  FROM events),
        |c AS (SELECT u, min(d) AS cohort_date FROM pu GROUP BY u)
        |SELECT c.cohort_date,
        | CAST(date_diff('day', c.cohort_date, pu.d) AS INTEGER)
        |   AS day_offset,
        | CAST(count(*) AS BIGINT) AS n_users
        |FROM pu JOIN c ON pu.u = c.u
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "analytics_funnel" ->
      """WITH pu AS (SELECT user_id,
        |  min(CASE WHEN event_type = 'view' THEN ts END) AS m0,
        |  min(CASE WHEN event_type = 'click' THEN ts END) AS m1,
        |  min(CASE WHEN event_type = 'purchase' THEN ts END) AS m2
        | FROM events GROUP BY user_id),
        |f AS (SELECT
        |  (m0 IS NOT NULL) AS r1,
        |  (m0 IS NOT NULL AND m1 > m0) AS r2,
        |  (m0 IS NOT NULL AND m1 > m0 AND m2 > m1) AS r3 FROM pu)
        |SELECT 1 AS stage, 'view' AS stage_name,
        |  CAST(count(*) FILTER (r1) AS BIGINT) AS n_users FROM f
        |UNION ALL SELECT 2, 'click',
        |  CAST(count(*) FILTER (r2) AS BIGINT) FROM f
        |UNION ALL SELECT 3, 'purchase',
        |  CAST(count(*) FILTER (r3) AS BIGINT) FROM f
        |ORDER BY stage""".stripMargin,

    "analytics_equidepth_hist" ->
      """WITH counts AS (SELECT value AS v, count(*) AS n FROM events
        |  WHERE value IS NOT NULL GROUP BY value),
        |cum AS (SELECT v, n,
        |  COALESCE(CAST(sum(n) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
        |    0) AS cum_before,
        |  CAST(sum(n) OVER () AS BIGINT) AS total FROM counts)
        |SELECT cum_before * 8 // total AS bucket,
        | CAST(count(*) AS BIGINT) AS n_values,
        | CAST(sum(n) AS BIGINT) AS n_rows,
        | min(v) AS lo, max(v) AS hi
        |FROM cum GROUP BY 1 ORDER BY bucket""".stripMargin,

    "text_top_terms" ->
      """WITH tok AS (SELECT doc_id,
        |  unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        | FROM documents),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        | FROM tok GROUP BY doc_id, token),
        |dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df
        | FROM tf GROUP BY token),
        |nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        | FROM documents),
        |sc AS (SELECT tf.doc_id, tf.token, tf.tf, dfq.df,
        |  CAST(tf.tf AS DOUBLE) * CAST(nd.n_docs AS DOUBLE)
        |    / CAST(dfq.df AS DOUBLE) AS score
        | FROM tf JOIN dfq ON tf.token = dfq.token CROSS JOIN nd),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |  ORDER BY score DESC, token ASC) AS INTEGER) AS rank FROM sc)
        |SELECT doc_id, rank, token, tf, df, score FROM r WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,

    // the single sorted-pass frontier (bucketing is internal to the
    // Spark plan and cannot change the output)
    "analytics_skyline" ->
      """WITH p AS (SELECT DISTINCT l_quantity AS x,
        |  l_extendedprice AS y FROM lineitem),
        |w AS (SELECT x, y, min(y) OVER (ORDER BY x, y
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mp FROM p)
        |SELECT x, y FROM w WHERE mp IS NULL OR y < mp
        |ORDER BY x, y""".stripMargin,

    // first-owner novelty over the distinct raw shingle relation
    "text_novelty" ->
      s"""WITH $duckShingles,
         |owner AS (SELECT s, min(doc_id) AS owner_id FROM shl GROUP BY s)
         |SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_sh,
         | CAST(sum(CASE WHEN o.owner_id = d.doc_id THEN 1 ELSE 0 END)
         |  AS BIGINT) AS n_novel,
         | CAST(sum(CASE WHEN o.owner_id = d.doc_id THEN 1 ELSE 0 END)
         |  AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novelty
         |FROM shl d JOIN owner o ON d.s = o.s
         |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,

    // replicates lmFamiliarity: adjacent lowercase-token bigrams, the
    // corpus-internal count model, integer aggregates + two final
    // double divisions per doc
    "text_lm_quality" ->
      """WITH t AS (SELECT doc_id,
        |  string_split_regex(trim(lower(text)), '\s+') AS ts
        | FROM documents),
        |b AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)),
        |  i -> ts[i] || ' ' || ts[i+1])) AS bigram
        | FROM t WHERE len(ts) >= 2),
        |m AS (SELECT bigram, count(*) AS c12 FROM b GROUP BY 1)
        |SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        | CAST(sum(CASE WHEN m.c12 >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS familiar_bigrams,
        | CAST(sum(m.c12) AS BIGINT) AS sum_freq,
        | CAST(sum(CASE WHEN m.c12 >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |  / CAST(count(*) AS DOUBLE) AS familiarity,
        | CAST(sum(m.c12) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |  AS avg_bigram_freq
        |FROM b JOIN m USING (bigram)
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,

    // replicates gopherFilters: same tokenization, per-row longs, one
    // double division per ratio, thresholds as DOUBLE casts (DuckDB
    // decimal literals would compare differently)
    "text_gopher_filters" ->
      """WITH t AS (SELECT doc_id,
        |  string_split_regex(trim(lower(text)), '\s+') AS ts
        | FROM documents),
        |v AS (SELECT doc_id, ts FROM t WHERE ts <> ['']),
        |pr AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_words,
        |  CAST(list_sum(list_transform(ts, x -> len(x))) AS BIGINT)
        |   AS sum_len,
        |  CAST(len(list_filter(ts, x -> list_contains(
        |   ['the','a','an','of','and','to','in','is','it','that'], x)))
        |   AS BIGINT) AS n_stop
        | FROM v),
        |tt AS (SELECT doc_id, max(c) AS max_token_n FROM (
        |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c FROM (
        |   SELECT doc_id, unnest(ts) AS tok FROM v) u
        |  GROUP BY doc_id, tok) g GROUP BY doc_id),
        |j AS (SELECT pr.doc_id, n_words,
        |  CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE)
        |   AS mean_word_len,
        |  CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE) AS stop_ratio,
        |  CAST(max_token_n AS DOUBLE) / CAST(n_words AS DOUBLE)
        |   AS max_token_ratio
        | FROM pr JOIN tt ON pr.doc_id = tt.doc_id)
        |SELECT doc_id, n_words, mean_word_len, stop_ratio,
        | max_token_ratio,
        | n_words >= 25 AND n_words <= 90 AS ok_words,
        | mean_word_len >= CAST(4.3 AS DOUBLE)
        |  AND mean_word_len <= CAST(4.75 AS DOUBLE) AS ok_word_len,
        | stop_ratio >= CAST(0.02 AS DOUBLE) AS ok_stop,
        | max_token_ratio <= CAST(0.12 AS DOUBLE) AS ok_rep,
        | (n_words >= 25 AND n_words <= 90)
        |  AND (mean_word_len >= CAST(4.3 AS DOUBLE)
        |   AND mean_word_len <= CAST(4.75 AS DOUBLE))
        |  AND stop_ratio >= CAST(0.02 AS DOUBLE)
        |  AND max_token_ratio <= CAST(0.12 AS DOUBLE) AS keep
        |FROM j ORDER BY doc_id""".stripMargin,

    // funnel: gopher flags + quality gate + normalized-dedup keeper,
    // folded into cumulative survivor counts — replicates the
    // pipe_filter_funnel composition stage by stage
    "pipe_filter_funnel" -> {
      val stops = TextOps.EnglishStopwords.map(w => s"'$w'")
        .mkString("[", ", ", "]")
      s"""WITH t AS (SELECT doc_id, text,
         |  string_split_regex(trim(lower(text)), '\\s+') AS ts
         | FROM documents),
         |v AS (SELECT doc_id, ts FROM t WHERE ts <> ['']),
         |pr AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_words,
         |  CAST(list_sum(list_transform(ts, x -> len(x))) AS BIGINT)
         |   AS sum_len,
         |  CAST(len(list_filter(ts, x -> list_contains($stops, x)))
         |   AS BIGINT) AS n_stop
         | FROM v),
         |tt AS (SELECT doc_id, max(c) AS max_token_n FROM (
         |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c FROM (
         |   SELECT doc_id, unnest(ts) AS tok FROM v) u
         |  GROUP BY doc_id, tok) g GROUP BY doc_id),
         |gf AS (SELECT pr.doc_id,
         |  (n_words >= 25 AND n_words <= 90)
         |  AND (CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE)
         |    >= CAST(4.3 AS DOUBLE)
         |   AND CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE)
         |    <= CAST(4.75 AS DOUBLE))
         |  AND CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE)
         |   >= CAST(0.02 AS DOUBLE)
         |  AND CAST(max_token_n AS DOUBLE) / CAST(n_words AS DOUBLE)
         |   <= CAST(0.12 AS DOUBLE) AS gopher_keep
         | FROM pr JOIN tt ON pr.doc_id = tt.doc_id),
         |qc AS (SELECT doc_id,
         |  CAST(len(ts) AS DOUBLE) AS n,
         |  CAST(length(text) AS DOUBLE) AS chars,
         |  CAST(len(regexp_extract_all(text, '[\\.,;:!\\?]')) AS DOUBLE)
         |   AS punct,
         |  CAST(len(list_filter(ts, tk -> list_contains($stops, tk)))
         |   AS DOUBLE) AS stop
         | FROM t),
         |q AS (SELECT doc_id,
         |  (CASE WHEN n >= 5 AND n <= 100000 THEN 1e0 ELSE 0e0 END) * 0.25e0
         |  + (CASE WHEN chars / greatest(n, 1e0) >= 2e0
         |       AND chars / greatest(n, 1e0) <= 12e0 THEN 1e0 ELSE 0e0 END)
         |    * 0.25e0
         |  + (CASE WHEN punct / greatest(chars, 1e0) <= 0.2e0
         |     THEN 1e0 ELSE 0e0 END) * 0.25e0
         |  + least(stop / greatest(n, 1e0) * 5e0, 1e0) * 0.25e0
         |   >= CAST(0.85 AS DOUBLE) AS q_ok
         | FROM qc),
         |k AS (SELECT doc_id, row_number() OVER (
         |   PARTITION BY nt ORDER BY doc_id) = 1 AS dedup_keeper
         | FROM (SELECT doc_id, trim(regexp_replace(regexp_replace(
         |   lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS nt
         |  FROM documents) z),
         |f AS (SELECT t.doc_id,
         |  COALESCE(gf.gopher_keep, false) AS s1,
         |  COALESCE(q.q_ok, false) AS s2,
         |  COALESCE(k.dedup_keeper, false) AS s3
         | FROM t LEFT JOIN gf ON t.doc_id = gf.doc_id
         |  LEFT JOIN q ON t.doc_id = q.doc_id
         |  LEFT JOIN k ON t.doc_id = k.doc_id),
         |a AS (SELECT CAST(count(*) AS BIGINT) AS n0,
         |  CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |  CAST(sum(CASE WHEN s1 AND s2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         |  CAST(sum(CASE WHEN s1 AND s2 AND s3 THEN 1 ELSE 0 END)
         |   AS BIGINT) AS n3
         | FROM f)
         |SELECT * FROM (
         | SELECT CAST(0 AS BIGINT) AS stage_idx, 'all' AS stage, n0 AS n,
         |  CAST(n0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS share_of_input FROM a
         | UNION ALL SELECT 1, 'gopher_keep', n1,
         |  CAST(n1 AS DOUBLE) / CAST(n0 AS DOUBLE) FROM a
         | UNION ALL SELECT 2, 'q_ok', n2,
         |  CAST(n2 AS DOUBLE) / CAST(n0 AS DOUBLE) FROM a
         | UNION ALL SELECT 3, 'dedup_keeper', n3,
         |  CAST(n3 AS DOUBLE) / CAST(n0 AS DOUBLE) FROM a) s
         |ORDER BY stage_idx""".stripMargin
    },

    // mirrors bm25TopDocs exactly: parsed decimal constants, idf·sat
    // multiplication order, left-associated coalesce total
    "text_bm25" ->
      """WITH tok AS (SELECT doc_id,
        |  unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        | FROM documents),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        | FROM tok GROUP BY doc_id, token),
        |qtf AS (SELECT * FROM tf WHERE token IN ('hash','scan','filter')),
        |dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df
        | FROM qtf GROUP BY token),
        |dls AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
        | FROM tf GROUP BY doc_id),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(dl) AS BIGINT) AS total_len FROM dls),
        |sc AS (SELECT q.doc_id, q.token,
        |  ((CAST(st.n_docs - d.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
        |    / (CAST(d.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
        |  * (CAST(q.tf AS DOUBLE) * CAST(2.2 AS DOUBLE)
        |    / (CAST(q.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
        |      * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
        |        * (CAST(l.dl AS DOUBLE)
        |          / (CAST(st.total_len AS DOUBLE)
        |            / CAST(st.n_docs AS DOUBLE)))))) AS score
        | FROM qtf q JOIN dfq d ON q.token = d.token
        | JOIN dls l ON q.doc_id = l.doc_id CROSS JOIN st),
        |pv AS (SELECT doc_id,
        |  max(CASE WHEN token = 'hash' THEN score END) AS s1,
        |  max(CASE WHEN token = 'scan' THEN score END) AS s2,
        |  max(CASE WHEN token = 'filter' THEN score END) AS s3
        | FROM sc GROUP BY doc_id),
        |tot AS (SELECT doc_id,
        |  (CASE WHEN s1 IS NOT NULL THEN 1 ELSE 0 END
        |   + CASE WHEN s2 IS NOT NULL THEN 1 ELSE 0 END
        |   + CASE WHEN s3 IS NOT NULL THEN 1 ELSE 0 END) AS n_terms,
        |  ((coalesce(s1, CAST(0 AS DOUBLE)) + coalesce(s2, CAST(0 AS DOUBLE)))
        |    + coalesce(s3, CAST(0 AS DOUBLE))) AS score
        | FROM pv),
        |r AS (SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
        |  AS INTEGER) AS rank, doc_id, n_terms, score FROM tot)
        |SELECT rank, doc_id, n_terms, score FROM r WHERE rank <= 10
        |ORDER BY rank""".stripMargin,

    "q22_dormant_value" ->
      """SELECT n_name, CAST(count(*) AS BIGINT) AS numcust,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > (
        |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
        |   / count(*) FROM customer WHERE c_acctbal > 0)
        | AND NOT EXISTS (SELECT 1 FROM orders
        |   WHERE o_custkey = c_custkey
        |   AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "agg_bool_suite" ->
      """SELECT l_returnflag,
        | CAST(count(*) FILTER (WHERE l_quantity > 45) AS BIGINT) AS n_heavy,
        | bool_and(l_discount <= CAST(0.1 AS DOUBLE)) AS all_low_disc,
        | bool_or(l_tax > CAST(0.07 AS DOUBLE)) AS any_high_tax,
        | CAST(count(DISTINCT l_linestatus) AS BIGINT) AS n_status
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "setop_except_all" ->
      """WITH e AS (
        | SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'A'
        | EXCEPT ALL
        | SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
        |SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,

    "setop_intersect_all" ->
      """WITH e AS (
        | SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'A'
        | INTERSECT ALL
        | SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
        |SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,

    "agg_exact_quantiles" ->
      """SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med,
        | quantile_cont(l_quantity, 0.9) AS p90
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "agg_stats_exact" ->
      """WITH a AS (SELECT l_returnflag,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(22,6))) AS DOUBLE) AS s,
        |  CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(22,6))) AS DOUBLE) AS s2
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n, s, s2,
        | s / CAST(n AS DOUBLE) AS mean,
        | (s2 - (s * s) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1e0)
        |  AS var_
        |FROM a ORDER BY l_returnflag""".stripMargin,

    "x_hof_suite" ->
      s"""WITH t AS (SELECT doc_id, $duckTokens AS toks FROM documents)
         |SELECT doc_id,
         | CAST(len(list_filter(toks, tk -> length(tk) > 4)) AS BIGINT) AS n_long,
         | (len(list_filter(toks, tk -> length(tk) > 7)) > 0) AS any_xlong,
         | CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |   list_transform(toks, tk -> CAST(length(tk) AS BIGINT))),
         |   (a,b) -> a + b) AS BIGINT) AS total_chars,
         | upper(toks[1]) AS first_upper,
         | array_to_string(list_transform(toks[1:3], tk -> reverse(tk)), '|')
         |  AS rev3
         |FROM t ORDER BY doc_id""".stripMargin,

    "pipe_prepare_corpus" -> {
      val stops = TextOps.EnglishStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      val hitCols = TextOps.LangMarkers.map { case (lang, words) =>
        val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter(toks, tk -> list_contains($lst, tk))) AS h_$lang"
      }.mkString(", ")
      val langs = TextOps.LangMarkers.map(_._1)
      val m = langs.map(l => s"h_$l").mkString("greatest(", ", ", ")")
      val cases = langs.map(l => s"WHEN h_$l = m THEN '$l'").mkString(" ")
      s"""WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents
         |  GROUP BY md5(text)),
         |t AS (SELECT d.doc_id, d.text, $duckTokens AS toks
         |  FROM documents d JOIN keep k ON d.doc_id = k.doc_id),
         |c AS (SELECT doc_id,
         |  CAST(len(toks) AS DOUBLE) AS n,
         |  CAST(length(text) AS DOUBLE) AS chars,
         |  CAST(len(regexp_extract_all(text, '[\\.,;:!\\?]')) AS DOUBLE) AS punct,
         |  CAST(len(list_filter(toks, tk -> list_contains($stops, tk))) AS DOUBLE) AS stop
         |  FROM t),
         |q AS (SELECT doc_id,
         | (CASE WHEN n >= 5 AND n <= 100000 THEN 1e0 ELSE 0e0 END) * 0.25e0
         | + (CASE WHEN chars / greatest(n, 1e0) >= 2e0
         |      AND chars / greatest(n, 1e0) <= 12e0 THEN 1e0 ELSE 0e0 END) * 0.25e0
         | + (CASE WHEN punct / greatest(chars, 1e0) <= 0.2e0 THEN 1e0 ELSE 0e0 END) * 0.25e0
         | + least(stop / greatest(n, 1e0) * 5e0, 1e0) * 0.25e0 AS quality
         | FROM c),
         |h AS (SELECT doc_id, $hitCols FROM t),
         |hm AS (SELECT *, $m AS m FROM h),
         |lp AS (SELECT doc_id, CASE WHEN m <= 0 THEN 'und' $cases END AS lang_pred
         |  FROM hm)
         |SELECT t.doc_id, lp.lang_pred, CAST(len(t.toks) AS BIGINT) AS n_tokens,
         | q.quality
         |FROM t
         |JOIN q ON t.doc_id = q.doc_id
         |JOIN lp ON t.doc_id = lp.doc_id
         |WHERE q.quality >= 0.5 AND lp.lang_pred != 'und'
         |ORDER BY t.doc_id""".stripMargin
    },

    // one ordered window pass: first-row flag + partition count, then
    // conditional max — replicating the single-exchange OHLC plan
    "ts_ohlc" ->
      """WITH e AS (SELECT event_id, ts, event_type, value FROM events
        |  WHERE value IS NOT NULL),
        |b AS (SELECT *, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket
        |  FROM e),
        |w AS (SELECT event_type, bucket, value,
        |  row_number() OVER (PARTITION BY event_type, bucket
        |    ORDER BY ts, event_id) AS rn,
        |  count(*) OVER (PARTITION BY event_type, bucket) AS nn FROM b)
        |SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n,
        | max(CASE WHEN rn = 1 THEN value END) AS open,
        | max(value) AS high, min(value) AS low,
        | max(CASE WHEN rn = nn THEN value END) AS close,
        | CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE) AS vsum
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // trailing-frame decimal sums; mean/var/z derived with the same
    // pinned IEEE op order as the Spark expression
    "ts_rolling_zscore" ->
      """WITH e AS (SELECT event_id, user_id, ts, value FROM events
        |  WHERE value IS NOT NULL),
        |w AS (SELECT event_id, user_id, ts, value,
        |  CAST(count(*) OVER f AS BIGINT) AS n_prev,
        |  CAST(SUM(CAST(value AS DECIMAL(22,6))) OVER f AS DOUBLE) AS s,
        |  CAST(SUM(CAST(value * value AS DECIMAL(22,6))) OVER f AS DOUBLE)
        |    AS s2
        | FROM e WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, ts, value, n_prev,
        | s / CAST(n_prev AS DOUBLE) AS mean_prev,
        | CASE WHEN n_prev >= 3 THEN
        |   (value - s / CAST(n_prev AS DOUBLE))
        |     / sqrt((s2 - (s * s) / CAST(n_prev AS DOUBLE))
        |       / (CAST(n_prev AS DOUBLE) - CAST(1 AS DOUBLE))) END AS z
        |FROM w ORDER BY user_id, ts, event_id""".stripMargin,

    // global window cumsum — the oracle for the two-phase parallel scan
    // — then the same BIGINT slot-boundary arithmetic
    "pipe_pps_sample" ->
      """WITH c AS (SELECT doc_id, n_chars,
        |  CAST(sum(n_chars) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum
        | FROM documents),
        |t AS (SELECT CAST(max(cum) AS BIGINT) AS w FROM c)
        |SELECT doc_id, n_chars, cum,
        | CAST(((cum - n_chars) * 50) // w AS BIGINT) AS slot
        |FROM c CROSS JOIN t
        |WHERE (cum * 50) // w > ((cum - n_chars) * 50) // w
        |ORDER BY doc_id""".stripMargin,

    // BM25 top-20 (the text_bm25 pipeline re-cut at k=20) fused with
    // cosine top-20 for query vector 0 by reciprocal-rank; only ranks
    // cross the fusion, so the two scoring scales never meet
    "retrieval_rrf" ->
      s"""WITH tok AS (SELECT doc_id,
         |  unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
         | FROM documents),
         |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
         | FROM tok GROUP BY doc_id, token),
         |qtf AS (SELECT * FROM tf WHERE token IN ('hash','scan','filter')),
         |dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df
         | FROM qtf GROUP BY token),
         |dls AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
         | FROM tf GROUP BY doc_id),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(dl) AS BIGINT) AS total_len FROM dls),
         |sc AS (SELECT q.doc_id, q.token,
         |  ((CAST(st.n_docs - d.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
         |    / (CAST(d.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
         |  * (CAST(q.tf AS DOUBLE) * CAST(2.2 AS DOUBLE)
         |    / (CAST(q.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
         |      * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
         |        * (CAST(l.dl AS DOUBLE)
         |          / (CAST(st.total_len AS DOUBLE)
         |            / CAST(st.n_docs AS DOUBLE)))))) AS score
         | FROM qtf q JOIN dfq d ON q.token = d.token
         | JOIN dls l ON q.doc_id = l.doc_id CROSS JOIN st),
         |pv AS (SELECT doc_id,
         |  max(CASE WHEN token = 'hash' THEN score END) AS s1,
         |  max(CASE WHEN token = 'scan' THEN score END) AS s2,
         |  max(CASE WHEN token = 'filter' THEN score END) AS s3
         | FROM sc GROUP BY doc_id),
         |tot AS (SELECT doc_id,
         |  ((coalesce(s1, CAST(0 AS DOUBLE)) + coalesce(s2, CAST(0 AS DOUBLE)))
         |    + coalesce(s3, CAST(0 AS DOUBLE))) AS score
         | FROM pv),
         |lx AS (SELECT doc_id AS id, rank_a FROM (
         |  SELECT doc_id, CAST(row_number() OVER (
         |    ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank_a
         |  FROM tot) WHERE rank_a <= 20),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(${duckDot("v", "v")}) AS nrm FROM e),
         |p AS (SELECT c.vec_id AS neighbor_id,
         |  ${duckDot("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
         |  FROM n q JOIN n c ON q.vec_id = 0 AND c.vec_id != 0),
         |vx AS (SELECT neighbor_id AS id, rank_b FROM (
         |  SELECT neighbor_id, CAST(row_number() OVER (
         |    ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS rank_b
         |  FROM p) WHERE rank_b <= 20),
         |f AS (SELECT coalesce(lx.id, vx.id) AS id, rank_a, rank_b,
         |  (coalesce(CAST(1 AS DOUBLE)
         |      / (CAST(60 AS DOUBLE) + CAST(rank_a AS DOUBLE)),
         |      CAST(0 AS DOUBLE))
         |   + coalesce(CAST(1 AS DOUBLE)
         |      / (CAST(60 AS DOUBLE) + CAST(rank_b AS DOUBLE)),
         |      CAST(0 AS DOUBLE))) AS rrf
         |  FROM lx FULL JOIN vx ON lx.id = vx.id)
         |SELECT CAST(row_number() OVER (ORDER BY rrf DESC, id ASC)
         |  AS INTEGER) AS rank, id, rank_a, rank_b, rrf
         |FROM f ORDER BY rank""".stripMargin,

    // the minhash-lsh candidate machinery plus per-slot agreement —
    // the estimator itself is the fraction of equal signature slots
    // same CTEs as the full-width estimator; agreement on the final
    // hex nibble, corrected by exact binary constants 2^-4 and 15/16
    "dedup_bbit_minhash" -> {
      val mh = (0 until 8).map(i => s"min(md5('$i|' || sh)) AS m$i")
        .mkString(", ")
      val bands = (0 until 4).map(b =>
        s"SELECT doc_id, $b AS band, " +
          s"md5(m${2 * b} || '|' || m${2 * b + 1}) AS bh FROM mh")
        .mkString(" UNION ALL ")
      val agree = (0 until 8)
        .map(i =>
          s"CASE WHEN substr(sa.m$i, 32, 1) = substr(sb.m$i, 32, 1) " +
            "THEN 1 ELSE 0 END")
        .mkString("(", " + ", ")")
      s"""WITH $duckShingles,
         |mh AS (SELECT doc_id, $mh FROM shm GROUP BY doc_id),
         |bands AS ($bands),
         |cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
         |  FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |est AS (SELECT c.ia, c.ib,
         |  (CAST($agree AS DOUBLE) / CAST(8 AS DOUBLE)
         |    - CAST(0.0625 AS DOUBLE)) / CAST(0.9375 AS DOUBLE)
         |   AS b4_est
         |  FROM cand c JOIN mh sa ON c.ia = sa.doc_id
         |  JOIN mh sb ON c.ib = sb.doc_id),
         |${duckJaccardCtes("SELECT ia, ib FROM cand")}
         |SELECT j.id_a, j.id_b, e.b4_est, j.jaccard,
         | abs(e.b4_est - j.jaccard) AS abs_err
         |FROM jac j JOIN est e ON j.id_a = e.ia AND j.id_b = e.ib
         |ORDER BY id_a, id_b""".stripMargin
    },

    "dedup_minhash_estimate" -> {
      val mh = (0 until 8).map(i => s"min(md5('$i|' || sh)) AS m$i")
        .mkString(", ")
      val bands = (0 until 4).map(b =>
        s"SELECT doc_id, $b AS band, " +
          s"md5(m${2 * b} || '|' || m${2 * b + 1}) AS bh FROM mh")
        .mkString(" UNION ALL ")
      val agree = (0 until 8)
        .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END")
        .mkString("(", " + ", ")")
      s"""WITH $duckShingles,
         |mh AS (SELECT doc_id, $mh FROM shm GROUP BY doc_id),
         |bands AS ($bands),
         |cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
         |  FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |est AS (SELECT c.ia, c.ib,
         |  CAST($agree AS DOUBLE) / CAST(8 AS DOUBLE) AS est
         |  FROM cand c JOIN mh sa ON c.ia = sa.doc_id
         |  JOIN mh sb ON c.ib = sb.doc_id),
         |${duckJaccardCtes("SELECT ia, ib FROM cand")}
         |SELECT j.id_a, j.id_b, e.est, j.jaccard,
         | abs(e.est - j.jaccard) AS abs_err
         |FROM jac j JOIN est e ON j.id_a = e.ia AND j.id_b = e.ib
         |ORDER BY id_a, id_b""".stripMargin
    },

    // replicates the deterministic sub-codebook (first-16 subvectors),
    // the |v|²−2vc+|c|² per-subspace distance with VecDot's fold order,
    // the lowest-code argmin tie-break, and the fixed-order 4-term ADC
    // sum (pivoted per subspace so no float aggregation order exists)
    "ann_pq_adc" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS i, v
         |  FROM e ORDER BY vec_id LIMIT 16),
         |sv AS (SELECT vec_id, j, v[(j*16+1):((j+1)*16)] AS s
         |  FROM e CROSS JOIN range(4) t(j)),
         |cv AS (SELECT i, j, v[(j*16+1):((j+1)*16)] AS c
         |  FROM cb CROSS JOIN range(4) t(j)),
         |dists AS (SELECT s.vec_id, s.j, c.i,
         |  (${duckDot("s.s", "s.s")} - CAST(2 AS DOUBLE)
         |    * ${duckDot("s.s", "c.c")} + ${duckDot("c.c", "c.c")}) AS d
         |  FROM sv s JOIN cv c ON s.j = c.j),
         |enc AS (SELECT vec_id, j, i AS code FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id, j
         |    ORDER BY d ASC, i ASC) AS rn FROM dists) WHERE rn = 1),
         |qd AS (SELECT vec_id AS query_id, j, i, d FROM dists
         |  WHERE vec_id < 8),
         |contrib AS (SELECT q.query_id, enc.vec_id AS neighbor_id,
         |  q.j, q.d
         |  FROM qd q JOIN enc ON q.j = enc.j AND q.i = enc.code
         |    AND enc.vec_id != q.query_id),
         |tot AS (SELECT query_id, neighbor_id,
         |  (((max(CASE WHEN j = 0 THEN d END)
         |    + max(CASE WHEN j = 1 THEN d END))
         |    + max(CASE WHEN j = 2 THEN d END))
         |    + max(CASE WHEN j = 3 THEN d END)) AS approx_dist
         |  FROM contrib GROUP BY 1, 2),
         |r AS (SELECT query_id, neighbor_id, approx_dist,
         |  row_number() OVER (PARTITION BY query_id
         |    ORDER BY approx_dist ASC, neighbor_id ASC) AS rank FROM tot)
         |SELECT query_id, rank, neighbor_id, approx_dist FROM r
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // per-subspace k-means-trained codebooks feeding the same encode +
    // fixed-order ADC chain — the full training trajectory unrolled
    "ann_pq_trained" -> duckPqTrainedSql(m = 4, ksub = 16, dims = 64,
      iters = 2, k = 5),

    // PQ shortlist (m=8, ksub=32, ADC top-50) then exact cosine
    // re-rank — same CTE chain as ann_pq_adc, parameterized
    "ann_pq_rerank" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(${duckDot("v", "v")}) AS nrm FROM e),
         |${duckPqCtes(m = 8, ksub = 32, dims = 64)},
         |sl AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id
         |    ORDER BY approx_dist ASC, neighbor_id ASC) AS rn FROM tot)
         |  WHERE rn <= 50),
         |pr AS (SELECT sl.query_id, sl.neighbor_id,
         |  ${duckDot("qn.v", "cn.v")} / (qn.nrm * cn.nrm) AS cos
         |  FROM sl JOIN n qn ON sl.query_id = qn.vec_id
         |  JOIN n cn ON sl.neighbor_id = cn.vec_id),
         |rr AS (SELECT query_id, neighbor_id, cos, row_number() OVER (
         |  PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC)
         |  AS rank FROM pr)
         |SELECT query_id, rank, neighbor_id FROM rr WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    // IVFADC: residual-PQ shortlist from the probed cells, then exact
    // cosine re-rank — the duckIvfPqCtes chain ending at sl
    "ann_ivfpq_topk" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(${duckDot("v", "v")}) AS nrm FROM e),
         |${duckIvfPqCtes(nCells = 16, nProbe = 4, m = 8, ksub = 32,
            dims = 64, shortlist = 50)},
         |pr AS (SELECT sl.query_id, sl.neighbor_id,
         |  ${duckDot("qn.v", "cn.v")} / (qn.nrm * cn.nrm) AS cos
         |  FROM sl JOIN n qn ON sl.query_id = qn.vec_id
         |  JOIN n cn ON sl.neighbor_id = cn.vec_id),
         |rr AS (SELECT query_id, neighbor_id, cos, row_number() OVER (
         |  PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC)
         |  AS rank FROM pr)
         |SELECT query_id, rank, neighbor_id FROM rr WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    // every event lands in exactly width/slide = 2 hops; DuckDB's
    // time_bucket origin (2000-01-01) sits on the same 30-minute grid
    // as Spark's epoch-aligned windows, so the bucket edges coincide
    "ts_hopping_counts" ->
      """WITH x AS (SELECT
        |  CAST(time_bucket(INTERVAL '30 minutes', ts) AS TIMESTAMP)
        |    - k.k * INTERVAL '30 minutes' AS ws, event_type
        | FROM events CROSS JOIN range(2) k(k))
        |SELECT ws, event_type, CAST(count(*) AS BIGINT) AS n
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // user-level decimal sums, decimal power sums, VARCHAR hops, then
    // the same fixed IEEE theta/adjustment expression tree
    "analytics_cuped" ->
      """WITH u AS (SELECT user_id, (user_id % 2 = 1) AS treat,
        |  SUM(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
        |   THEN CAST(value AS DECIMAL(18,4))
        |   ELSE CAST(0 AS DECIMAL(18,4)) END) AS x,
        |  SUM(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
        |   THEN CAST(value AS DECIMAL(18,4))
        |   ELSE CAST(0 AS DECIMAL(18,4)) END) AS y
        | FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |  CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
        |  CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
        |  CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,8))) AS VARCHAR)
        |    AS DOUBLE) AS sxx,
        |  CAST(CAST(SUM(CAST(x * y AS DECIMAL(38,8))) AS VARCHAR)
        |    AS DOUBLE) AS sxy,
        |  CAST(CAST(SUM(CASE WHEN treat THEN y END) AS VARCHAR)
        |    AS DOUBLE) AS sy_t,
        |  CAST(CAST(SUM(CASE WHEN NOT treat THEN y END) AS VARCHAR)
        |    AS DOUBLE) AS sy_c,
        |  CAST(CAST(SUM(CASE WHEN treat THEN x END) AS VARCHAR)
        |    AS DOUBLE) AS sx_t,
        |  CAST(CAST(SUM(CASE WHEN NOT treat THEN x END) AS VARCHAR)
        |    AS DOUBLE) AS sx_c,
        |  CAST(count(CASE WHEN treat THEN 1 END) AS DOUBLE) AS n_t,
        |  CAST(count(CASE WHEN NOT treat THEN 1 END) AS DOUBLE) AS n_c
        | FROM u)
        |SELECT CAST(n AS BIGINT) AS n_users,
        | (n * sxy - sx * sy) / (n * sxx - sx * sx) AS theta,
        | (sy_t / n_t - sy_c / n_c) AS raw_effect,
        | ((sy_t / n_t - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) *
        |    (sx_t / n_t - sx / n)) -
        |  (sy_c / n_c - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) *
        |    (sx_c / n_c - sx / n))) AS cuped_effect
        |FROM s""".stripMargin,

    // the oracle states the window as a direct micro-range join; the
    // engine's day-replicated equi-join must yield identical credit
    "analytics_attribution" ->
      """WITH p AS (SELECT event_id AS pid, user_id,
        |  epoch_us(ts) AS pmu FROM events
        | WHERE event_type = 'purchase' AND user_id IS NOT NULL),
        |t AS (SELECT user_id, event_type AS channel, epoch_us(ts)
        |  AS tmu FROM events
        | WHERE event_type IN ('view', 'click')
        |  AND user_id IS NOT NULL),
        |j AS (SELECT p.pid, t.channel FROM p JOIN t
        | ON p.user_id = t.user_id AND t.tmu <= p.pmu
        |  AND t.tmu >= p.pmu - 259200000000),
        |n AS (SELECT pid, CAST(count(*) AS BIGINT) AS n FROM j
        | GROUP BY 1),
        |c AS (SELECT j.channel, 1000000000000 // n.n AS fp
        | FROM j JOIN n ON j.pid = n.pid)
        |SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
        | CAST(CAST(SUM(fp) AS VARCHAR) AS DOUBLE) / 1e12 AS credit
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    // integer cumulative weights; 2·cum >= W avoids any half-weight
    // float; the unique (value, event_id) order pins tie accumulation
    "agg_weighted_median" ->
      """WITH ev AS (SELECT event_type, value, event_id,
        |  event_id % 5 + 1 AS w FROM events WHERE user_id IS NOT NULL),
        |tot AS (SELECT event_type, CAST(SUM(w) AS BIGINT) AS w_total
        | FROM ev GROUP BY 1),
        |c AS (SELECT event_type, value, event_id,
        |  SUM(w) OVER (PARTITION BY event_type ORDER BY value, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        | FROM ev),
        |q AS (SELECT c.event_type, t.w_total, c.value,
        |  row_number() OVER (PARTITION BY c.event_type
        |   ORDER BY c.value, c.event_id) AS rn
        | FROM c JOIN tot t ON c.event_type = t.event_type
        | WHERE c.cum * 2 >= t.w_total)
        |SELECT event_type, w_total, value AS weighted_median
        |FROM q WHERE rn = 1 ORDER BY event_type""".stripMargin,

    "pipe_shuffle_order" ->
      """SELECT doc_id, md5('shuf1|' || doc_id) AS shuffle_key
        |FROM documents ORDER BY shuffle_key LIMIT 50""".stripMargin,

    "pipe_corpus_stats" ->
      """WITH d AS (SELECT lang, source, strlen(text) AS n_chars,
        |  len(string_split_regex(trim(lower(text)), '\s+')) AS n_tok
        | FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        | CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        | CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
        | CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        | CAST(min(n_tok) AS INTEGER) AS min_tokens,
        | CAST(max(n_tok) AS INTEGER) AS max_tokens,
        | CAST(CAST(SUM(n_tok) AS BIGINT) AS DOUBLE) /
        |  CAST(count(*) AS DOUBLE) AS mean_tokens
        |FROM d""".stripMargin,

    // hugeint window sum, VARCHAR hop — the decimal trailing spend is
    // exact under any frame evaluation order
    "window_range_frame" ->
      """SELECT o_orderkey, o_custkey,
        | CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
        |   AS dd,
        | CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |   PARTITION BY o_custkey
        |   ORDER BY CAST(o_orderdate AS DATE) - DATE '1970-01-01'
        |   RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
        |  AS VARCHAR) AS DOUBLE) AS spend_30d,
        | CAST(count(*) OVER (PARTITION BY o_custkey
        |   ORDER BY CAST(o_orderdate AS DATE) - DATE '1970-01-01'
        |   RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS BIGINT)
        |  AS orders_30d
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // 8 conditional decimal sums, VARCHAR-hopped; the DiD expression
    // replays term for term
    "analytics_did" ->
      """WITH e AS (SELECT (user_id % 2 = 1) AS treat,
        |  (CAST(ts AS DATE) >= DATE '2024-01-15') AS post,
        |  CAST(value AS DECIMAL(18,4)) AS v
        | FROM events WHERE user_id IS NOT NULL),
        |s AS (SELECT
        |  CAST(CAST(SUM(CASE WHEN treat AND post THEN v END)
        |    AS VARCHAR) AS DOUBLE) AS s_t_post,
        |  CAST(count(CASE WHEN treat AND post THEN 1 END) AS BIGINT)
        |    AS n_t_post,
        |  CAST(CAST(SUM(CASE WHEN treat AND NOT post THEN v END)
        |    AS VARCHAR) AS DOUBLE) AS s_t_pre,
        |  CAST(count(CASE WHEN treat AND NOT post THEN 1 END) AS BIGINT)
        |    AS n_t_pre,
        |  CAST(CAST(SUM(CASE WHEN NOT treat AND post THEN v END)
        |    AS VARCHAR) AS DOUBLE) AS s_c_post,
        |  CAST(count(CASE WHEN NOT treat AND post THEN 1 END) AS BIGINT)
        |    AS n_c_post,
        |  CAST(CAST(SUM(CASE WHEN NOT treat AND NOT post THEN v END)
        |    AS VARCHAR) AS DOUBLE) AS s_c_pre,
        |  CAST(count(CASE WHEN NOT treat AND NOT post THEN 1 END)
        |    AS BIGINT) AS n_c_pre
        | FROM e)
        |SELECT n_t_post, n_t_pre, n_c_post, n_c_pre,
        | (s_t_post / CAST(n_t_post AS DOUBLE)
        |   - s_t_pre / CAST(n_t_pre AS DOUBLE)) AS delta_treat,
        | (s_c_post / CAST(n_c_post AS DOUBLE)
        |   - s_c_pre / CAST(n_c_pre AS DOUBLE)) AS delta_control,
        | ((s_t_post / CAST(n_t_post AS DOUBLE)
        |   - s_t_pre / CAST(n_t_pre AS DOUBLE))
        |  - (s_c_post / CAST(n_c_post AS DOUBLE)
        |   - s_c_pre / CAST(n_c_pre AS DOUBLE))) AS did_effect
        |FROM s""".stripMargin,

    // strict inequalities on bit-identical daily doubles
    "ts_peaks" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR)
        |    AS DOUBLE) AS x
        | FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, d, x,
        |  lag(x) OVER (PARTITION BY event_type ORDER BY d) AS prev_x,
        |  lead(x) OVER (PARTITION BY event_type ORDER BY d) AS next_x
        | FROM daily)
        |SELECT event_type, d, x, prev_x, next_x FROM w
        |WHERE prev_x IS NOT NULL AND next_x IS NOT NULL
        | AND x > prev_x AND x > next_x
        |ORDER BY event_type, d""".stripMargin,

    "ts_wow_change" ->
      """WITH weekly AS (SELECT event_type,
        |  CAST(date_trunc('week', ts) AS DATE) AS wk,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR)
        |    AS DOUBLE) AS x,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, wk, x, n,
        |  lag(x) OVER (PARTITION BY event_type ORDER BY wk) AS prev_x
        | FROM weekly)
        |SELECT event_type, wk, x, n, prev_x,
        | CASE WHEN prev_x IS NOT NULL AND prev_x <> 0
        |  THEN (x - prev_x) / prev_x END AS wow_pct
        |FROM w ORDER BY event_type, wk""".stripMargin,

    // the same fold, with a third accumulator slot carrying the
    // quantized walk-forward error sum
    "ts_forecast_backtest" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR)
        |    AS DOUBLE) AS x
        | FROM events GROUP BY 1, 2),
        |ser AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  list(x ORDER BY d) AS xs FROM daily GROUP BY 1),
        |st AS (SELECT event_type, n_days,
        |  list_reduce(
        |   list_prepend([xs[1], CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)],
        |    list_transform(xs[2:],
        |     x -> [x, CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)])),
        |   (acc, e) -> [0.5*e[1] + 0.5*(acc[1]+acc[2]),
        |     0.3*((0.5*e[1] + 0.5*(acc[1]+acc[2])) - acc[1])
        |       + 0.7*acc[2],
        |     acc[3] + floor(abs(e[1] - (acc[1]+acc[2])) * 1e9)]) AS s
        | FROM ser)
        |SELECT event_type, n_days,
        | CASE WHEN n_days > 1
        |  THEN s[3] / 1e9 / CAST(n_days - 1 AS DOUBLE) END AS mae_1step
        |FROM st ORDER BY event_type""".stripMargin,

    // the identical sequential fold, replayed by list_reduce over
    // [level, trend] pairs — every IEEE intermediate matches
    "ts_holt_forecast" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR)
        |    AS DOUBLE) AS x
        | FROM events GROUP BY 1, 2),
        |ser AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  list(x ORDER BY d) AS xs FROM daily GROUP BY 1),
        |st AS (SELECT event_type, n_days,
        |  list_reduce(list_prepend([xs[1], CAST(0 AS DOUBLE)],
        |    list_transform(xs[2:], x -> [x, CAST(0 AS DOUBLE)])),
        |   (acc, e) -> [0.5*e[1] + 0.5*(acc[1]+acc[2]),
        |     0.3*((0.5*e[1] + 0.5*(acc[1]+acc[2])) - acc[1])
        |       + 0.7*acc[2]]) AS s
        | FROM ser)
        |SELECT event_type, n_days, s[1] AS level, s[2] AS trend,
        | s[1] + s[2] AS forecast_1
        |FROM st ORDER BY event_type""".stripMargin,

    // the Kalman predict/gain/update recursion replayed as the same
    // [l, P] left-fold; q=0.1, r=1.0, p0=1.0 appear as the identical
    // numeric literals so every IEEE intermediate matches
    "ts_kalman_level" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR)
        |    AS DOUBLE) AS x
        | FROM events GROUP BY 1, 2),
        |ser AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  list(x ORDER BY d) AS xs FROM daily GROUP BY 1),
        |st AS (SELECT event_type, n_days,
        |  list_reduce(list_prepend([xs[1], CAST(1.0 AS DOUBLE)],
        |    list_transform(xs[2:], x -> [x, CAST(0 AS DOUBLE)])),
        |   (acc, e) -> [acc[1] + ((acc[2] + 0.1) / ((acc[2] + 0.1)
        |       + 1.0)) * (e[1] - acc[1]),
        |     (CAST(1.0 AS DOUBLE) - ((acc[2] + 0.1) / ((acc[2] + 0.1)
        |       + 1.0))) * (acc[2] + 0.1)]) AS s
        | FROM ser)
        |SELECT event_type, n_days, s[1] AS level, s[2] AS p_var,
        | (s[2] + 0.1) / ((s[2] + 0.1) + 1.0) AS gain_next
        |FROM st ORDER BY event_type""".stripMargin,

    // exact trailing reach + the 5%-bound flag (the sketch estimate is
    // deterministic; the oracle checks the exact side and the bound)
    "sketch_hll_sliding" ->
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id
        | FROM events WHERE user_id IS NOT NULL),
        |days AS (SELECT DISTINCT d AS day FROM du)
        |SELECT t.day,
        | CAST(count(DISTINCT s.user_id) AS BIGINT) AS exact_u7,
        | TRUE AS hll_ok
        |FROM days t JOIN du s ON s.d BETWEEN t.day - 6 AND t.day
        |GROUP BY t.day ORDER BY t.day""".stripMargin,

    "analytics_dau_mau" ->
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id
        | FROM events WHERE user_id IS NOT NULL),
        |days AS (SELECT DISTINCT d AS day FROM du)
        |SELECT t.day,
        | CAST(count(DISTINCT CASE WHEN s.d = t.day THEN s.user_id END)
        |   AS BIGINT) AS dau,
        | CAST(count(DISTINCT CASE WHEN t.day - s.d <= 6
        |   THEN s.user_id END) AS BIGINT) AS wau,
        | CAST(count(DISTINCT s.user_id) AS BIGINT) AS mau,
        | CAST(count(DISTINCT CASE WHEN s.d = t.day THEN s.user_id END)
        |   AS DOUBLE) / CAST(count(DISTINCT s.user_id) AS DOUBLE)
        |  AS stickiness
        |FROM days t JOIN du s ON s.d BETWEEN t.day - 29 AND t.day
        |GROUP BY t.day ORDER BY t.day""".stripMargin,

    // oracle states the window as a day-range join; the engine's
    // replicate-into-covered-days plan must produce identical reach
    "ts_sliding_distinct" ->
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id
        | FROM events WHERE user_id IS NOT NULL),
        |days AS (SELECT DISTINCT d AS day FROM du)
        |SELECT t.day,
        | CAST(count(DISTINCT CASE WHEN s.d = t.day THEN s.user_id END)
        |   AS BIGINT) AS u_day,
        | CAST(count(DISTINCT s.user_id) AS BIGINT) AS u_3d
        |FROM days t JOIN du s ON s.d BETWEEN t.day - 2 AND t.day
        |GROUP BY t.day ORDER BY t.day""".stripMargin,

    // the incremental candidate join: band collisions where at least
    // one side is in the new batch (doc_id >= 250), normalized to
    // id_a < id_b, then the standard exact-Jaccard verify
    "dedup_incremental" -> {
      val mh = (0 until 8).map(i => s"min(md5('$i|' || sh)) AS m$i")
        .mkString(", ")
      val bands = (0 until 4).map(b =>
        s"SELECT doc_id, $b AS band, " +
          s"md5(m${2 * b} || '|' || m${2 * b + 1}) AS bh FROM mh")
        .mkString(" UNION ALL ")
      s"""WITH $duckShingles,
         |mh AS (SELECT doc_id, $mh FROM shm GROUP BY doc_id),
         |bands AS ($bands),
         |cand AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS ia,
         |  greatest(a.doc_id, b.doc_id) AS ib
         |  FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.bh = b.bh
         |   AND a.doc_id != b.doc_id AND a.doc_id >= 250),
         |${duckJaccard("SELECT ia, ib FROM cand", 0.5)}""".stripMargin
    },

    // composes the brute/LSH/IVF/PQ pipelines (same CTE text as their
    // individual oracles, prefix-renamed) and counts integer pair hits
    // the persisted index must match the in-memory IVF semantics
    // exactly, so its oracle is the same deterministic IVF
    // construction; probe_pruned pins the files-opened evidence
    "ann_ivf_persisted" -> {
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(${duckDot("v", "v")}) AS nrm FROM e),
         |bp AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |  ${duckDot("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
         |  FROM n q JOIN n c ON q.vec_id < 8 AND c.vec_id != q.vec_id),
         |bh AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |   PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM bp) WHERE rank <= 5),
         |cent AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cnrm FROM n
         |  ORDER BY vec_id LIMIT 16),
         |ac AS (SELECT n.vec_id, n.v, n.nrm, cent.cell_id,
         |  ${duckDot("n.v", "cent.cv")} / (n.nrm * cent.cnrm) AS c_cos
         |  FROM n CROSS JOIN cent),
         |assigned AS (SELECT vec_id, v, nrm, cell_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY c_cos DESC, cell_id ASC) AS rn FROM ac) WHERE rn = 1),
         |probes AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm, cell_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY c_cos DESC, cell_id ASC) AS rn FROM ac
         |  WHERE vec_id < 8) WHERE rn <= 4),
         |ip AS (SELECT q.q_id AS query_id, c.vec_id AS neighbor_id,
         |  ${duckDot("q.qv", "c.v")} / (q.qnrm * c.nrm) AS cos
         |  FROM probes q JOIN assigned c ON q.cell_id = c.cell_id
         |    AND c.vec_id != q.q_id),
         |ih AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, cos, row_number() OVER (
         |  PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM ip) WHERE rank <= 5),
         |hits AS (SELECT i.query_id, CAST(count(*) AS BIGINT) AS n_hits
         |  FROM ih i JOIN bh b ON i.query_id = b.query_id
         |    AND i.neighbor_id = b.neighbor_id
         |  GROUP BY i.query_id)
         |SELECT q.vec_id AS query_id,
         |  COALESCE(h.n_hits, 0) AS n_hits,
         |  CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(5 AS DOUBLE)
         |    AS recall,
         |  TRUE AS probe_pruned
         |FROM (SELECT vec_id FROM e WHERE vec_id < 8) q
         |LEFT JOIN hits h ON q.vec_id = h.query_id
         |ORDER BY query_id""".stripMargin
    },

    // the persisted IVF-PQ must equal the in-memory IVFADC over the
    // FINAL corpus (post-maintenance), so its oracle is the
    // ann_ivfpq_topk chain with the mutated corpus CTE; pq_pins
    // records the exactly-once / probe-pruned / rerank-bounded
    // evidence
    "ann_ivfpq_persisted" -> {
      s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |e AS (SELECT vec_id, v FROM base WHERE vec_id NOT IN (40, 41)
         |  UNION ALL
         |  SELECT vec_id + 100000, v FROM base
         |  WHERE vec_id >= 100 AND vec_id < 120),
         |n AS (SELECT vec_id, v, sqrt(${duckDot("v", "v")}) AS nrm FROM e),
         |${duckIvfPqCtes(nCells = 16, nProbe = 4, m = 8, ksub = 32,
            dims = 64, shortlist = 50)},
         |pr AS (SELECT sl.query_id, sl.neighbor_id,
         |  ${duckDot("qn.v", "cn.v")} / (qn.nrm * cn.nrm) AS cos
         |  FROM sl JOIN n qn ON sl.query_id = qn.vec_id
         |  JOIN n cn ON sl.neighbor_id = cn.vec_id),
         |rr AS (SELECT query_id, neighbor_id, cos, row_number() OVER (
         |  PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC)
         |  AS rank FROM pr)
         |SELECT query_id, rank, neighbor_id, TRUE AS pq_pins
         |FROM rr WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    },

    // the filtered IVF-PQ search replays the SAME deterministic
    // IVFADC chain with the keep-list predicate injected into the
    // candidate CTE (before the shortlist window — exactly where the
    // carried-column filter applies) and the probe widened to
    // nProbe×overProbe = 8 cells; pqf_pins records the all-kept /
    // stats-prune / rerank-bounded evidence
    "ann_ivfpq_filtered" -> {
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(${duckDot("v", "v")}) AS nrm FROM e),
         |${duckIvfPqCtes(nCells = 16, nProbe = 8, m = 8, ksub = 32,
            dims = 64, shortlist = 50,
            candPred = "e2.vec_id % 3 = 0")},
         |pr AS (SELECT sl.query_id, sl.neighbor_id,
         |  ${duckDot("qn.v", "cn.v")} / (qn.nrm * cn.nrm) AS cos
         |  FROM sl JOIN n qn ON sl.query_id = qn.vec_id
         |  JOIN n cn ON sl.neighbor_id = cn.vec_id),
         |rr AS (SELECT query_id, neighbor_id, cos, row_number() OVER (
         |  PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC)
         |  AS rank FROM pr)
         |SELECT query_id, rank, neighbor_id, TRUE AS pqf_pins
         |FROM rr WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    },

    // the stream-fed IVF-PQ index must equal the IVFADC construction
    // over the FINAL corpus (originals minus the two deletes, plus
    // the twenty re-keyed copies) — the ann_ivfpq_persisted oracle;
    // stream_pq_pins records the exactly-once cursor +
    // one-posting-per-live-vector count
    "stream_ivfpq_maintain" -> {
      s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |e AS (SELECT vec_id, v FROM base WHERE vec_id NOT IN (40, 41)
         |  UNION ALL
         |  SELECT vec_id + 100000, v FROM base
         |  WHERE vec_id >= 100 AND vec_id < 120),
         |n AS (SELECT vec_id, v, sqrt(${duckDot("v", "v")}) AS nrm FROM e),
         |${duckIvfPqCtes(nCells = 16, nProbe = 4, m = 8, ksub = 32,
            dims = 64, shortlist = 50)},
         |pr AS (SELECT sl.query_id, sl.neighbor_id,
         |  ${duckDot("qn.v", "cn.v")} / (qn.nrm * cn.nrm) AS cos
         |  FROM sl JOIN n qn ON sl.query_id = qn.vec_id
         |  JOIN n cn ON sl.neighbor_id = cn.vec_id),
         |rr AS (SELECT query_id, neighbor_id, cos, row_number() OVER (
         |  PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC)
         |  AS rank FROM pr)
         |SELECT query_id, rank, neighbor_id, TRUE AS stream_pq_pins
         |FROM rr WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    },

    // MaxSim replay: 4 × 16-dim token slices, per-(query, doc,
    // q_pos) max cosine, FIXED-ORDER pivot sum ((m0+m1)+m2)+m3 —
    // the same association order the Spark arm's reduceLeft builds
    "ann_maxsim_topk" -> {
      val pivotSum = (0 until 4)
        .map(j => s"max(CASE WHEN q_pos = $j THEN cos END)")
        .reduceLeft((a, b) => s"($a + $b)")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |tok AS (SELECT vec_id, j AS pos, v[(j*16+1):((j+1)*16)] AS t
         |  FROM e CROSS JOIN range(4) r(j)),
         |tn AS (SELECT vec_id, pos, t, sqrt(${duckDot("t", "t")}) AS nrm
         |  FROM tok),
         |pairs AS (SELECT q.vec_id AS query_id, d.vec_id AS doc_id,
         |  q.pos AS q_pos,
         |  ${duckDot("q.t", "d.t")} / (q.nrm * d.nrm) AS cos
         |  FROM tn q JOIN tn d ON q.vec_id < 8 AND d.vec_id != q.vec_id),
         |pp AS (SELECT query_id, doc_id, $pivotSum AS maxsim
         |  FROM pairs GROUP BY 1, 2),
         |rr AS (SELECT query_id, doc_id AS neighbor_id,
         |  row_number() OVER (PARTITION BY query_id
         |    ORDER BY maxsim DESC, doc_id ASC) AS rank FROM pp)
         |SELECT query_id, rank, neighbor_id FROM rr WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    },

    // the pruned arm replays codebook (first 16 tokens in (vec_id,
    // pos) order), argmax assignment (c DESC, cell ASC), 2-cell
    // probes, the candidate co-occurrence join, then the SAME exact
    // MaxSim on candidates only
    "ann_maxsim_pruned" -> {
      val pivotSum = (0 until 4)
        .map(j => s"max(CASE WHEN q_pos = $j THEN cos END)")
        .reduceLeft((a, b) => s"($a + $b)")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |tok AS (SELECT vec_id, j AS pos, v[(j*16+1):((j+1)*16)] AS t
         |  FROM e CROSS JOIN range(4) r(j)),
         |tn AS (SELECT vec_id, pos, t, sqrt(${duckDot("t", "t")}) AS nrm
         |  FROM tok),
         |cent AS (SELECT row_number() OVER (ORDER BY vec_id, pos) - 1
         |    AS cell, t AS cv, nrm AS cnrm
         |  FROM tn ORDER BY vec_id, pos LIMIT 16),
         |ac AS (SELECT tn.vec_id, tn.pos, cent.cell,
         |  ${duckDot("tn.t", "cent.cv")} / (tn.nrm * cent.cnrm) AS c
         |  FROM tn CROSS JOIN cent),
         |dassign AS (SELECT DISTINCT vec_id, cell FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id, pos
         |    ORDER BY c DESC, cell ASC) AS rn FROM ac) WHERE rn = 1),
         |qprobe AS (SELECT DISTINCT vec_id AS query_id, cell FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id, pos
         |    ORDER BY c DESC, cell ASC) AS rn FROM ac
         |  WHERE vec_id < 8) WHERE rn <= 2),
         |cand AS (SELECT DISTINCT q.query_id, d.vec_id AS doc_id
         |  FROM qprobe q JOIN dassign d
         |    ON q.cell = d.cell AND d.vec_id != q.query_id),
         |pairs AS (SELECT c.query_id, c.doc_id, qt.pos AS q_pos,
         |  ${duckDot("qt.t", "dt.t")} / (qt.nrm * dt.nrm) AS cos
         |  FROM cand c JOIN tn qt ON qt.vec_id = c.query_id
         |  JOIN tn dt ON dt.vec_id = c.doc_id),
         |pp AS (SELECT query_id, doc_id, $pivotSum AS maxsim
         |  FROM pairs GROUP BY 1, 2),
         |rr AS (SELECT query_id, doc_id AS neighbor_id,
         |  row_number() OVER (PARTITION BY query_id
         |    ORDER BY maxsim DESC, doc_id ASC) AS rank FROM pp)
         |SELECT query_id, rank, neighbor_id, TRUE AS pruned_pins
         |FROM rr WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    },

    // the default-bearing table's final content is a pure literal
    // reconstruction: ids 1,2 (narrow SQL), 3,4 (DEFAULT keyword
    // mixes), 5 (programmatic narrow append — the log materialized
    // the same literal); the refused staged row 6 never landed
    "src_column_defaults" ->
      s"""SELECT * FROM (VALUES
         |  (CAST(1 AS BIGINT), CAST(1.5 AS DOUBLE), 'en', TRUE),
         |  (CAST(2 AS BIGINT), CAST(1.5 AS DOUBLE), 'en', TRUE),
         |  (CAST(3 AS BIGINT), CAST(1.5 AS DOUBLE), 'fr', TRUE),
         |  (CAST(4 AS BIGINT), CAST(9 AS DOUBLE), 'en', TRUE),
         |  (CAST(5 AS BIGINT), CAST(1.5 AS DOUBLE), 'en', TRUE))
         |  AS t(id, qty, tag, default_pins)
         |ORDER BY id""".stripMargin,

    // the constraint-gated table's final content: the two slices
    // that passed the gate plus the NULL probe row (ANSI: NULL
    // passes) plus the post-drop row — the violating batch never
    // landed, which is what this reconstruction asserts
    "src_check_constraint" ->
      s"""WITH staged AS (
         |  SELECT l_orderkey, l_quantity, l_returnflag FROM lineitem
         |  WHERE l_orderkey < 200
         |  UNION ALL SELECT -1, NULL, 'Z'
         |  UNION ALL SELECT -2, CAST(-7 AS DOUBLE), 'Y')
         |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
         |    AS sum_qty,
         |  TRUE AS constraint_pins
         |FROM staged GROUP BY 1 ORDER BY 1""".stripMargin,

    // the filtered search replays the SAME deterministic-IVF
    // construction with the predicate applied to candidates (and to
    // the brute-force truth) and the probe widened to 8 cells —
    // per-query hit counts are pure integers; filtered_pins records
    // the monotone-recall / all-kept / stats-prune evidence
    "ann_ivf_filtered" -> {
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(${duckDot("v", "v")}) AS nrm FROM e),
         |bp AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |  ${duckDot("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
         |  FROM n q JOIN n c ON q.vec_id < 8 AND c.vec_id != q.vec_id
         |    AND c.vec_id % 3 = 0),
         |bh AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |   PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM bp) WHERE rank <= 5),
         |cent AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cnrm FROM n
         |  ORDER BY vec_id LIMIT 16),
         |ac AS (SELECT n.vec_id, n.v, n.nrm, cent.cell_id,
         |  ${duckDot("n.v", "cent.cv")} / (n.nrm * cent.cnrm) AS c_cos
         |  FROM n CROSS JOIN cent),
         |assigned AS (SELECT vec_id, v, nrm, cell_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY c_cos DESC, cell_id ASC) AS rn FROM ac) WHERE rn = 1),
         |probes AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm, cell_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY c_cos DESC, cell_id ASC) AS rn FROM ac
         |  WHERE vec_id < 8) WHERE rn <= 8),
         |ip AS (SELECT q.q_id AS query_id, c.vec_id AS neighbor_id,
         |  ${duckDot("q.qv", "c.v")} / (q.qnrm * c.nrm) AS cos
         |  FROM probes q JOIN assigned c ON q.cell_id = c.cell_id
         |    AND c.vec_id != q.q_id AND c.vec_id % 3 = 0),
         |ih AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, cos, row_number() OVER (
         |  PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM ip) WHERE rank <= 5),
         |hits AS (SELECT i.query_id, CAST(count(*) AS BIGINT) AS n_hits
         |  FROM ih i JOIN bh b ON i.query_id = b.query_id
         |    AND i.neighbor_id = b.neighbor_id
         |  GROUP BY i.query_id)
         |SELECT q.vec_id AS query_id,
         |  COALESCE(h.n_hits, 0) AS n_hits,
         |  CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(5 AS DOUBLE)
         |    AS recall,
         |  TRUE AS filtered_pins
         |FROM (SELECT vec_id FROM e WHERE vec_id < 8) q
         |LEFT JOIN hits h ON q.vec_id = h.query_id
         |ORDER BY query_id""".stripMargin
    },

    // the stream-fed index must equal the deterministic-IVF
    // construction over the FINAL corpus (originals minus the two
    // deletes, plus the re-keyed copies) — the ann_ivf_persisted
    // oracle with the mutated corpus CTE; stream_maintain_pins
    // records the exactly-once cursor + one-posting-per-vector count
    "stream_ivf_maintain" -> {
      s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |e AS (SELECT vec_id, v FROM base WHERE vec_id NOT IN (40, 41)
         |  UNION ALL
         |  SELECT vec_id + 100000, v FROM base
         |  WHERE vec_id >= 100 AND vec_id < 140),
         |n AS (SELECT vec_id, v, sqrt(${duckDot("v", "v")}) AS nrm FROM e),
         |bp AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |  ${duckDot("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
         |  FROM n q JOIN n c ON q.vec_id < 8 AND c.vec_id != q.vec_id),
         |bh AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |   PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM bp) WHERE rank <= 5),
         |cent AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cnrm FROM n
         |  ORDER BY vec_id LIMIT 16),
         |ac AS (SELECT n.vec_id, n.v, n.nrm, cent.cell_id,
         |  ${duckDot("n.v", "cent.cv")} / (n.nrm * cent.cnrm) AS c_cos
         |  FROM n CROSS JOIN cent),
         |assigned AS (SELECT vec_id, v, nrm, cell_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY c_cos DESC, cell_id ASC) AS rn FROM ac) WHERE rn = 1),
         |probes AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm, cell_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY c_cos DESC, cell_id ASC) AS rn FROM ac
         |  WHERE vec_id < 8) WHERE rn <= 4),
         |ip AS (SELECT q.q_id AS query_id, c.vec_id AS neighbor_id,
         |  ${duckDot("q.qv", "c.v")} / (q.qnrm * c.nrm) AS cos
         |  FROM probes q JOIN assigned c ON q.cell_id = c.cell_id
         |    AND c.vec_id != q.q_id),
         |ih AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, cos, row_number() OVER (
         |  PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM ip) WHERE rank <= 5),
         |hits AS (SELECT i.query_id, CAST(count(*) AS BIGINT) AS n_hits
         |  FROM ih i JOIN bh b ON i.query_id = b.query_id
         |    AND i.neighbor_id = b.neighbor_id
         |  GROUP BY i.query_id)
         |SELECT q.vec_id AS query_id,
         |  COALESCE(h.n_hits, 0) AS n_hits,
         |  CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(5 AS DOUBLE)
         |    AS recall,
         |  TRUE AS stream_maintain_pins
         |FROM (SELECT vec_id FROM e WHERE vec_id < 8) q
         |LEFT JOIN hits h ON q.vec_id = h.query_id
         |ORDER BY query_id""".stripMargin
    },

    "ann_recall_audit" -> {
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(${duckDot("v", "v")}) AS nrm FROM e),
         |bp AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |  ${duckDot("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
         |  FROM n q JOIN n c ON q.vec_id < 8 AND c.vec_id != q.vec_id),
         |bh AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |   PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM bp) WHERE rank <= 5),
         |${duckLshMultiCtes(planes = 6, tables = 4)},
         |lh AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |   PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM lp) WHERE rank <= 5),
         |cent AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cnrm FROM n
         |  ORDER BY vec_id LIMIT 16),
         |ac AS (SELECT n.vec_id, n.v, n.nrm, cent.cell_id,
         |  ${duckDot("n.v", "cent.cv")} / (n.nrm * cent.cnrm) AS c_cos
         |  FROM n CROSS JOIN cent),
         |assigned AS (SELECT vec_id, v, nrm, cell_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY c_cos DESC, cell_id ASC) AS rn FROM ac) WHERE rn = 1),
         |probes AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm, cell_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY c_cos DESC, cell_id ASC) AS rn FROM ac
         |  WHERE vec_id < 8) WHERE rn <= 4),
         |ip AS (SELECT q.q_id AS query_id, c.vec_id AS neighbor_id,
         |  ${duckDot("q.qv", "c.v")} / (q.qnrm * c.nrm) AS cos
         |  FROM probes q JOIN assigned c ON q.cell_id = c.cell_id
         |    AND c.vec_id != q.q_id),
         |ih AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, cos, row_number() OVER (
         |  PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM ip) WHERE rank <= 5),
         |${duckPqCtes(m = 8, ksub = 32, dims = 64)},
         |sl AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id
         |    ORDER BY approx_dist ASC, neighbor_id ASC) AS rn FROM tot)
         |  WHERE rn <= 50),
         |pr AS (SELECT sl.query_id, sl.neighbor_id,
         |  ${duckDot("qn.v", "cn.v")} / (qn.nrm * cn.nrm) AS cos
         |  FROM sl JOIN n qn ON sl.query_id = qn.vec_id
         |  JOIN n cn ON sl.neighbor_id = cn.vec_id),
         |ph AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |   PARTITION BY query_id
         |   ORDER BY cos DESC, neighbor_id ASC) AS rank FROM pr)
         |  WHERE rank <= 5),
         |ah AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id
         |    ORDER BY approx_dist ASC, neighbor_id ASC) AS rank FROM tot)
         |  WHERE rank <= 5),
         |${duckIvfPqCtes(nCells = 16, nProbe = 4, m = 8, ksub = 32,
            dims = 64, shortlist = 50, p = "fp_")},
         |fpr AS (SELECT sl2.query_id, sl2.neighbor_id,
         |  ${duckDot("qn.v", "cn.v")} / (qn.nrm * cn.nrm) AS cos
         |  FROM fp_sl sl2 JOIN n qn ON sl2.query_id = qn.vec_id
         |  JOIN n cn ON sl2.neighbor_id = cn.vec_id),
         |fh AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |   PARTITION BY query_id
         |   ORDER BY cos DESC, neighbor_id ASC) AS rank FROM fpr)
         |  WHERE rank <= 5),
         |allhits AS (
         |  SELECT 'lsh' AS method, query_id, neighbor_id FROM lh
         |  UNION ALL SELECT 'ivf', query_id, neighbor_id FROM ih
         |  UNION ALL SELECT 'pq', query_id, neighbor_id FROM ph
         |  UNION ALL SELECT 'pq_adc', query_id, neighbor_id FROM ah
         |  UNION ALL SELECT 'ivfpq', query_id, neighbor_id FROM fh),
         |matched AS (SELECT a.method, a.query_id,
         |  CAST(count(*) AS BIGINT) AS n_hits
         |  FROM allhits a JOIN bh b ON a.query_id = b.query_id
         |    AND a.neighbor_id = b.neighbor_id
         |  GROUP BY 1, 2),
         |methods AS (SELECT unnest(
         |  ['lsh', 'ivf', 'pq', 'pq_adc', 'ivfpq']) AS method),
         |qq AS (SELECT vec_id AS query_id FROM e WHERE vec_id < 8)
         |SELECT m.method, q.query_id,
         | CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
         | CAST(coalesce(n_hits, 0) AS DOUBLE) / CAST(5 AS DOUBLE) AS recall
         |FROM methods m CROSS JOIN qq q
         |LEFT JOIN matched x ON x.method = m.method
         |  AND x.query_id = q.query_id
         |ORDER BY m.method, q.query_id""".stripMargin
    },

    // raw-window-text equality — semantically the xxhash64 join modulo
    // a 2^-64 collision the hash side accepts by design
    "dedup_substring_spans" ->
      """WITH w0 AS (SELECT doc_id,
        |  substr(text, CAST(ci * 20 + 1 AS INTEGER), 40) AS ch
        | FROM (SELECT doc_id, text, unnest(range(0,
        |   CASE WHEN length(text) <= 40 THEN 0
        |     ELSE (length(text) - 40 + 19) // 20 END + 1)) AS ci
        |  FROM documents)),
        |w AS (SELECT DISTINCT doc_id, ch FROM w0 WHERE length(ch) = 40)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | CAST(count(*) AS BIGINT) AS n_shared
        |FROM w a JOIN w b ON a.ch = b.ch AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY id_a, id_b""".stripMargin,

    // maximal-span reduction: matched 40-gram offsets along a diagonal
    // form contiguous runs == maximal equality runs (gram i+1 matches
    // iff gram i matches and the next char matches); islands trick
    // recovers run starts/lengths. Raw-gram join — equality modulo the
    // 2^-64 xxhash collision the Spark side accepts by design.
    "dedup_substring_maximal" ->
      """WITH g AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
        |  substr(text, CAST(i + 1 AS INTEGER), 40) AS gram
        | FROM (SELECT doc_id, text,
        |   unnest(range(0, greatest(length(text) - 39, 0))) AS i
        |  FROM documents)),
        |m AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  a.i AS ia, a.i - b.i AS diag
        | FROM g a JOIN g b
        | ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |runs AS (SELECT id_a, id_b, diag, ia,
        |  ia - row_number() OVER (
        |    PARTITION BY id_a, id_b, diag ORDER BY ia) AS grp
        | FROM m)
        |SELECT id_a, id_b, CAST(min(ia) AS BIGINT) AS start_a,
        | CAST(min(ia) - diag AS BIGINT) AS start_b,
        | CAST(count(*) + 39 AS BIGINT) AS span_len
        |FROM runs GROUP BY id_a, id_b, diag, grp
        |ORDER BY id_a, id_b, start_a, start_b""".stripMargin,

    // keep-first coverage: per doc, the union length of b-side maximal
    // spans shared with any lower-id doc (sweep = prev-max-end islands)
    "dedup_span_coverage" ->
      """WITH g AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
        |  substr(text, CAST(i + 1 AS INTEGER), 40) AS gram
        | FROM (SELECT doc_id, text,
        |   unnest(range(0, greatest(length(text) - 39, 0))) AS i
        |  FROM documents)),
        |m AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  a.i AS ia, a.i - b.i AS diag
        | FROM g a JOIN g b
        | ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |runs AS (SELECT id_a, id_b, diag, ia,
        |  ia - row_number() OVER (
        |    PARTITION BY id_a, id_b, diag ORDER BY ia) AS grp
        | FROM m),
        |spans AS (SELECT id_b AS doc_id,
        |  CAST(min(ia) - diag AS BIGINT) AS s,
        |  CAST(min(ia) - diag + count(*) + 39 AS BIGINT) AS e
        | FROM runs GROUP BY id_a, id_b, diag, grp),
        |ordered AS (SELECT doc_id, s, e,
        |  max(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    AS prev_max_e FROM spans),
        |mk AS (SELECT doc_id, s, e, CASE WHEN prev_max_e IS NULL
        |   OR s > prev_max_e THEN 1 ELSE 0 END AS is_new FROM ordered),
        |isl AS (SELECT doc_id, s, e,
        |  sum(is_new) OVER (PARTITION BY doc_id ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        | FROM mk),
        |u AS (SELECT doc_id, island, min(s) AS s, max(e) AS e
        | FROM isl GROUP BY 1, 2),
        |cov AS (SELECT doc_id, CAST(sum(e - s) AS BIGINT)
        |  AS covered_chars FROM u GROUP BY 1)
        |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
        | coalesce(cov.covered_chars, 0) AS covered_chars,
        | CAST(coalesce(cov.covered_chars, 0) AS DOUBLE)
        |  / CAST(length(d.text) AS DOUBLE) AS dup_frac
        |FROM documents d LEFT JOIN cov ON d.doc_id = cov.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // lexical (minhash-lsh verified jaccard) FULL JOIN semantic
    // (banded sign-LSH verified cosine) with the evidence count
    "dedup_ensemble" -> {
      val mh = (0 until 8).map(i => s"min(md5('$i|' || sh)) AS m$i")
        .mkString(", ")
      val lbands = (0 until 4).map(b =>
        s"SELECT doc_id, $b AS band, " +
          s"md5(m${2 * b} || '|' || m${2 * b + 1}) AS bh FROM mh")
        .mkString(" UNION ALL ")
      val (bands, rpb, dims) = (8, 6, 64)
      val bd = (0 until bands).map(b =>
        s"SELECT vec_id, $b AS band, ${duckBandSig("v", b, rpb, bands, dims)}" +
          " AS band_sig FROM e").mkString("\n  UNION ALL ")
      s"""WITH $duckShingles,
         |mh AS (SELECT doc_id, $mh FROM shm GROUP BY doc_id),
         |lbands AS ($lbands),
         |cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
         |  FROM lbands a JOIN lbands b
         |  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |${duckJaccardCtes("SELECT ia, ib FROM cand")},
         |lex AS (SELECT id_a, id_b, jaccard FROM jac
         |  WHERE jaccard >= CAST(0.5 AS DOUBLE)),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |bd AS ($bd),
         |scand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bd a JOIN bd b ON a.band = b.band
         |    AND a.band_sig = b.band_sig AND a.vec_id < b.vec_id),
         |n AS (SELECT vec_id, v, sqrt(${duckDot("v", "v")}) AS nrm FROM e),
         |sem AS (SELECT id_a, id_b, cos FROM (
         |  SELECT id_a, id_b, ${duckDot("q.v", "c.v")} / (q.nrm * c.nrm)
         |    AS cos
         |  FROM scand JOIN n q ON id_a = q.vec_id
         |  JOIN n c ON id_b = c.vec_id)
         |  WHERE cos >= CAST(0.42 AS DOUBLE))
         |SELECT coalesce(l.id_a, s.id_a) AS id_a,
         | coalesce(l.id_b, s.id_b) AS id_b, l.jaccard, s.cos,
         | CAST((CASE WHEN l.jaccard IS NOT NULL THEN 1 ELSE 0 END
         |  + CASE WHEN s.cos IS NOT NULL THEN 1 ELSE 0 END) AS INTEGER)
         |  AS n_signals
         |FROM lex l FULL JOIN sem s
         |  ON l.id_a = s.id_a AND l.id_b = s.id_b
         |ORDER BY id_a, id_b""".stripMargin
    },

    "pipe_sanitize_corpus" -> {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"
      s"""WITH r AS (SELECT doc_id, text ||
         | (CASE WHEN doc_id % 7 = 0 THEN ' contact a@b.co' ELSE '' END) ||
         | (CASE WHEN doc_id % 13 = 0 THEN ' cafe' || chr(769)
         |  ELSE '' END) AS raw
         | FROM documents),
         |c AS (SELECT doc_id,
         | regexp_replace(regexp_replace(nfc_normalize(raw),
         |   '$email', '<EMAIL>', 'g'), '$phone', '<PHONE>', 'g') AS clean,
         | CAST(len(regexp_extract_all(nfc_normalize(raw), '$email'))
         |   AS BIGINT)
         |  + CAST(len(regexp_extract_all(nfc_normalize(raw), '$phone'))
         |   AS BIGINT) AS n_redactions
         | FROM r),
         |k AS (SELECT doc_id, clean, n_redactions,
         |  min(doc_id) OVER (PARTITION BY md5(clean)) AS keep_id FROM c)
         |SELECT doc_id, CAST(length(clean) AS INTEGER) AS n_clean_chars,
         | n_redactions, doc_id = keep_id AS kept
         |FROM k ORDER BY doc_id""".stripMargin
    },

    "privacy_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(count(DISTINCT floor(c_acctbal / CAST(1000 AS DOUBLE)))
        |   AS BIGINT) AS l_bal,
        | count(*) < 5 AS k_risk,
        | count(DISTINCT floor(c_acctbal / CAST(1000 AS DOUBLE))) < 3
        |   AS l_risk
        |FROM customer GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "pipe_bpe_pairs" ->
      """WITH t AS (SELECT unnest(string_split_regex(trim(lower(text)),
        |  '\s+')) AS tok FROM documents),
        |p AS (SELECT unnest(list_transform(range(1, length(tok)),
        |  i -> substr(tok, CAST(i AS INTEGER), 2))) AS pair
        | FROM t WHERE length(tok) >= 2)
        |SELECT pair, CAST(count(*) AS BIGINT) AS n FROM p
        |GROUP BY 1 ORDER BY n DESC, pair LIMIT 50""".stripMargin,

    // two-sided minhash machinery: corpus and benchmark signatures
    // from the SAME shingle CTEs split by the id rule, banded cross
    // join, exact-Jaccard verify, per-corpus-doc rollup
    "pipe_contamination_fuzzy" -> {
      val mh = (0 until 8).map(i => s"min(md5('$i|' || sh)) AS m$i")
        .mkString(", ")
      val bandsOf = (rel: String) => (0 until 4).map(b =>
        s"SELECT doc_id, $b AS band, " +
          s"md5(m${2 * b} || '|' || m${2 * b + 1}) AS bh FROM $rel")
        .mkString(" UNION ALL ")
      s"""WITH $duckShingles,
         |csh AS (SELECT * FROM shm WHERE doc_id % 10 != 0),
         |bsh AS (SELECT * FROM shm WHERE doc_id % 10 = 0),
         |cmh AS (SELECT doc_id, $mh FROM csh GROUP BY doc_id),
         |bmh AS (SELECT doc_id, $mh FROM bsh GROUP BY doc_id),
         |cbands AS (${bandsOf("cmh")}),
         |bbands AS (${bandsOf("bmh")}),
         |cand AS (SELECT DISTINCT c.doc_id AS ia, b.doc_id AS ib
         |  FROM cbands c JOIN bbands b
         |  ON c.band = b.band AND c.bh = b.bh),
         |szc AS (SELECT doc_id, count(*) AS n_sh FROM csh GROUP BY 1),
         |szb AS (SELECT doc_id, count(*) AS n_sh FROM bsh GROUP BY 1),
         |common AS (SELECT cand.ia, cand.ib, count(*) AS n_common
         |  FROM cand
         |  JOIN csh a ON cand.ia = a.doc_id
         |  JOIN bsh b ON cand.ib = b.doc_id AND a.sh = b.sh
         |  GROUP BY 1, 2),
         |jac AS (SELECT ia, ib,
         |  CAST(n_common AS DOUBLE) /
         |   CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
         |  FROM common
         |  JOIN szc sa ON common.ia = sa.doc_id
         |  JOIN szb sb ON common.ib = sb.doc_id)
         |SELECT ia AS doc_id, CAST(count(*) AS BIGINT) AS n_bench_matches,
         | max(jaccard) AS best_jaccard
         |FROM jac WHERE jaccard >= 0.5
         |GROUP BY 1 ORDER BY doc_id""".stripMargin
    },

    // DuckDB lacks try_divide/try_add — CASE expressions state the
    // exact null-on-error semantics; TRY_CAST and OOB list indexing
    // are native
    "x_try_suite" ->
      """SELECT o_orderkey,
        | CASE WHEN o_orderkey % 50 = 0 THEN NULL
        |  ELSE o_totalprice / CAST(o_orderkey % 50 AS DOUBLE) END AS td,
        | CASE WHEN o_orderkey > 1000 THEN NULL
        |  ELSE CAST(9223372036854774807 AS BIGINT) + o_orderkey END AS ta,
        | TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS tc_ok,
        | TRY_CAST(o_orderpriority AS INTEGER) AS tc_bad,
        | ([1, 2])[CAST(o_orderkey % 5 + 1 AS INTEGER)] AS te
        |FROM orders WHERE o_orderkey <= 3000
        |ORDER BY o_orderkey""".stripMargin,

    // global rank oracle IS the plain window — the bucket-decomposed
    // Spark plan must agree exactly
    "pipe_curriculum" -> {
      val stops = TextOps.EnglishStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH t AS (SELECT doc_id, text, $duckTokens AS toks FROM documents),
         |c AS (SELECT doc_id,
         |  CAST(len(toks) AS DOUBLE) AS n,
         |  CAST(length(text) AS DOUBLE) AS chars,
         |  CAST(len(regexp_extract_all(text, '[\\.,;:!\\?]')) AS DOUBLE) AS punct,
         |  CAST(len(list_filter(toks, tk -> list_contains($stops, tk))) AS DOUBLE) AS stop
         |  FROM t),
         |q AS (SELECT doc_id,
         | (CASE WHEN n >= 5 AND n <= 100000 THEN 1e0 ELSE 0e0 END) * 0.25e0
         | + (CASE WHEN chars / greatest(n, 1e0) >= 2e0
         |      AND chars / greatest(n, 1e0) <= 12e0 THEN 1e0 ELSE 0e0 END) * 0.25e0
         | + (CASE WHEN punct / greatest(chars, 1e0) <= 0.2e0 THEN 1e0 ELSE 0e0 END) * 0.25e0
         | + least(stop / greatest(n, 1e0) * 5e0, 1e0) * 0.25e0 AS quality
         |FROM c),
         |r AS (SELECT doc_id, quality, CAST(row_number() OVER (
         |  ORDER BY quality DESC, doc_id ASC) AS BIGINT) AS rank FROM q)
         |SELECT doc_id, quality, rank,
         | CAST((rank - 1) % 4 AS INTEGER) AS shard,
         | CAST((rank - 1) // 4 AS INTEGER) AS pos_in_shard
         |FROM r ORDER BY rank""".stripMargin
    },

    // CUSUM: exact decimal running sums, μ from the decimal-exact
    // global mean, pinned-order S/drift derivation
    "ts_cusum_drift" ->
      """WITH e AS (SELECT event_id, user_id, ts, value FROM events
        |  WHERE value IS NOT NULL),
        |m AS (SELECT CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE)
        |  / CAST(count(*) AS DOUBLE) AS mu FROM e),
        |s AS (SELECT event_id, user_id, ts, value,
        |  CAST(SUM(CAST(value AS DECIMAL(22,6))) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |   - CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS DOUBLE) * mu AS s
        | FROM e CROSS JOIN m),
        |d AS (SELECT *, s - min(s) OVER (PARTITION BY user_id
        |  ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS drift
        | FROM s)
        |SELECT event_id, user_id, ts, value, s, drift,
        | drift > CAST(500 AS DOUBLE) AS alert
        |FROM d ORDER BY user_id, ts, event_id""".stripMargin,

    // EWMA: integer weights 2^(15−j) over 16 row-lags, one double
    // division — replicates ewmaSmooth's long-exact formulation
    "ts_ewma" -> {
      val num = (1 to 15).map(j =>
        s"COALESCE(lag(n, $j) OVER f, 0) * ${1L << (15 - j)}")
        .mkString(" + ")
      val den = (1 to 15).map(j =>
        s"CASE WHEN lag(n, $j) OVER f IS NULL THEN 0 ELSE ${1L << (15 - j)} END")
        .mkString(" + ")
      s"""WITH d AS (SELECT user_id, CAST(ts AS DATE) AS d,
         |  CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
         |e AS (SELECT user_id, d, n,
         |  n * 32768 + $num AS num,
         |  32768 + $den AS den
         | FROM d WINDOW f AS (PARTITION BY user_id ORDER BY d))
         |SELECT user_id, d, n,
         | CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS ewma
         |FROM e ORDER BY user_id, d""".stripMargin
    },

    // Welch t: DECIMAL-accumulated conditional moments per arm, pinned
    // IEEE derivation order — replicates abWelch
    "analytics_ab_welch" ->
      """WITH e AS (SELECT event_type, user_id % 2 AS arm, value
        |  FROM events WHERE value IS NOT NULL),
        |a AS (SELECT event_type,
        |  CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(SUM(CASE WHEN arm = 0
        |   THEN CAST(value AS DECIMAL(22,6)) END) AS DOUBLE) AS s_a,
        |  CAST(SUM(CASE WHEN arm = 0
        |   THEN CAST(value * value AS DECIMAL(22,6)) END) AS DOUBLE) AS s2_a,
        |  CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |  CAST(SUM(CASE WHEN arm = 1
        |   THEN CAST(value AS DECIMAL(22,6)) END) AS DOUBLE) AS s_b,
        |  CAST(SUM(CASE WHEN arm = 1
        |   THEN CAST(value * value AS DECIMAL(22,6)) END) AS DOUBLE) AS s2_b
        | FROM e GROUP BY 1),
        |d AS (SELECT event_type,
        |  n_a, s_a / CAST(n_a AS DOUBLE) AS mean_a,
        |  CASE WHEN n_a >= 2 THEN
        |   (s2_a - (s_a * s_a) / CAST(n_a AS DOUBLE))
        |    / (CAST(n_a AS DOUBLE) - 1e0) END AS var_a,
        |  n_b, s_b / CAST(n_b AS DOUBLE) AS mean_b,
        |  CASE WHEN n_b >= 2 THEN
        |   (s2_b - (s_b * s_b) / CAST(n_b AS DOUBLE))
        |    / (CAST(n_b AS DOUBLE) - 1e0) END AS var_b
        | FROM a)
        |SELECT event_type, n_a, mean_a, var_a, n_b, mean_b, var_b,
        | (mean_a - mean_b) / sqrt(var_a / CAST(n_a AS DOUBLE)
        |  + var_b / CAST(n_b AS DOUBLE)) AS t
        |FROM d ORDER BY event_type""".stripMargin,

    // HHI: two-level BIGINT aggregation, one double division —
    // replicates concentrationIndex
    "analytics_hhi" ->
      """WITH u AS (SELECT event_type, user_id,
        |  CAST(count(*) AS BIGINT) AS n_u FROM events GROUP BY 1, 2)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_units,
        | CAST(sum(n_u) AS BIGINT) AS total,
        | CAST(sum(n_u * n_u) AS BIGINT) AS sum_sq,
        | CAST(sum(n_u * n_u) AS DOUBLE)
        |  / CAST(sum(n_u) * sum(n_u) AS DOUBLE) AS hhi
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,

    // seasonality: DuckDB dayofweek is 0=Sunday, Spark's is 1=Sunday
    "analytics_seasonality" ->
      """WITH c AS (SELECT event_type,
        |  CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
        |  CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2)
        |SELECT event_type, dow, n, CAST(n AS DOUBLE)
        | / CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE) AS share
        |FROM c ORDER BY event_type, dow""".stripMargin,

    // rolling median: list() window aggregate over the same 7-row
    // frame, sorted, exact middle (odd) or mean-of-two (even)
    "ts_rolling_median" ->
      """WITH s AS (SELECT user_id, ts, event_id, value FROM events
        |  WHERE value IS NOT NULL),
        |f AS (SELECT user_id, ts, event_id, value,
        |  list_sort(list(CAST(value AS DOUBLE)) OVER w) AS fr
        | FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT user_id, ts, event_id, value,
        | CAST(len(fr) AS BIGINT) AS n_in_frame,
        | CASE WHEN len(fr) % 2 = 1 THEN fr[(len(fr) + 1) // 2]
        |  ELSE (fr[len(fr) // 2] + fr[len(fr) // 2 + 1])
        |   / CAST(2 AS DOUBLE) END AS rolling_median
        |FROM f ORDER BY user_id, ts, event_id""".stripMargin,

    // Markov: exact transition counts, per-source window total, one
    // double division — replicates markovTransitions
    "analytics_markov" ->
      """WITH s AS (SELECT user_id, event_type, lead(event_type) OVER (
        |  PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        | FROM events),
        |c AS (SELECT event_type AS from_type, next_type AS to_type,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n, CAST(n AS DOUBLE)
        | / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin,

    // market basket: two frequent passes + pair self-join, rule stats
    // are exact longs + IEEE division — replicates marketBasketRules
    "analytics_market_basket" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, p_brand AS i
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |sup AS (SELECT i, CAST(count(*) AS BIGINT) AS n_i FROM items
        |  GROUP BY i HAVING count(*) >= 20),
        |fi AS (SELECT items.b, items.i, sup.n_i
        |  FROM items JOIN sup USING (i)),
        |p AS (SELECT x.i AS item_a, y.i AS item_b, x.n_i AS n_a,
        |  y.n_i AS n_b, CAST(count(*) AS BIGINT) AS n_ab
        | FROM fi x JOIN fi y ON x.b = y.b AND x.i < y.i
        | GROUP BY 1, 2, 3, 4 HAVING count(*) >= 20),
        |t AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n_baskets
        |  FROM items)
        |SELECT item_a, item_b, n_ab, n_a, n_b,
        | CAST(n_ab AS DOUBLE) / CAST(n_a AS DOUBLE) AS conf_a_to_b,
        | CAST(n_ab AS DOUBLE) / CAST(n_b AS DOUBLE) AS conf_b_to_a,
        | CAST(n_ab AS DOUBLE) * CAST(n_baskets AS DOUBLE)
        |   / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS lift
        |FROM p, t ORDER BY lift DESC, item_a, item_b
        |LIMIT 50""".stripMargin,

    // sorted-neighborhood ER: global name rank, compare within 5
    // positions, exact edit-distance verify
    "er_sorted_neighborhood" ->
      """WITH r AS (SELECT c_custkey AS id, c_name AS nm,
        |  row_number() OVER (ORDER BY c_name, c_custkey) AS rk
        | FROM customer)
        |SELECT least(a.id, b.id) AS id_a, greatest(a.id, b.id) AS id_b,
        | CAST(levenshtein(a.nm, b.nm) AS INTEGER) AS dist
        |FROM r a JOIN r b ON b.rk > a.rk AND b.rk <= a.rk + 5
        |WHERE levenshtein(a.nm, b.nm) <= 1
        |ORDER BY id_a, id_b""".stripMargin,

    // entropy: per-element run counts, ln quantized to DECIMAL(14,12)
    // before the exact decimal Σ c·ln(c) (the ln-ulp parity dodge),
    // final combine in IEEE double — replicates TextOps.elementEntropy
    "text_entropy" ->
      s"""WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c
         |  FROM documents),
         |crc AS (SELECT doc_id, c, CAST(count(*) AS BIGINT) AS run
         |  FROM ch GROUP BY 1, 2),
         |cs AS (SELECT doc_id,
         |  sum(CAST(ln(CAST(run AS DOUBLE)) AS DECIMAL(14,12))
         |    * CAST(run AS DECIMAL(8,0))) AS s,
         |  CAST(sum(run) AS BIGINT) AS n FROM crc GROUP BY doc_id),
         |tk AS (SELECT doc_id, unnest($duckTokens) AS tok
         |  FROM documents),
         |trc AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS run
         |  FROM tk GROUP BY 1, 2),
         |ts2 AS (SELECT doc_id,
         |  sum(CAST(ln(CAST(run AS DOUBLE)) AS DECIMAL(14,12))
         |    * CAST(run AS DECIMAL(8,0))) AS s,
         |  CAST(sum(run) AS BIGINT) AS n FROM trc GROUP BY doc_id)
         |SELECT cs.doc_id,
         | CAST(CAST(ln(CAST(cs.n AS DOUBLE)) AS DECIMAL(14,12)) AS DOUBLE)
         |   - CAST(cs.s AS DOUBLE) / CAST(cs.n AS DOUBLE) AS char_entropy,
         | CAST(CAST(ln(CAST(ts2.n AS DOUBLE)) AS DECIMAL(14,12)) AS DOUBLE)
         |   - CAST(ts2.s AS DOUBLE) / CAST(ts2.n AS DOUBLE) AS token_entropy
         |FROM cs JOIN ts2 ON cs.doc_id = ts2.doc_id
         |ORDER BY cs.doc_id""".stripMargin,

    "text_pii_redact" -> {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"
      s"""WITH t AS (SELECT doc_id, text ||
         | (CASE WHEN doc_id % 7 = 0
         |   THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
         |   ELSE '' END) ||
         | (CASE WHEN doc_id % 11 = 0 THEN ' call 555-123-4567' ELSE '' END)
         |   AS itext FROM documents)
         |SELECT doc_id,
         | regexp_replace(regexp_replace(itext, '$email', '<EMAIL>', 'g'),
         |   '$phone', '<PHONE>', 'g') AS redacted,
         | CAST(len(regexp_extract_all(itext, '$email')) AS BIGINT)
         |   AS n_emails,
         | CAST(len(regexp_extract_all(itext, '$phone')) AS BIGINT)
         |   AS n_phones
         |FROM t ORDER BY doc_id""".stripMargin
    },

    "mm_avg_pool" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings)
         |SELECT vec_id, CAST(j AS INTEGER) AS win,
         | ${duckDot("v[(j*8+1):((j+1)*8)]",
             "[1, 1, 1, 1, 1, 1, 1, 1]")} / CAST(8 AS DOUBLE) AS mean
         |FROM e CROSS JOIN range(8) w(j)
         |ORDER BY vec_id, win""".stripMargin,

    // same gap rule as pipe_sessionize; the ordered string_agg IS the
    // struct-sorted path build
    "analytics_top_paths" ->
      """WITH m AS (SELECT user_id, ts, event_id, event_type,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |   THEN 1 ELSE 0 END AS new_s
        | FROM events WINDOW w AS (PARTITION BY user_id
        |   ORDER BY ts, event_id)),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
        |  ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM m),
        |p AS (SELECT user_id, sid,
        |  string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        | FROM s GROUP BY 1, 2),
        |c AS (SELECT path, CAST(count(*) AS BIGINT) AS n
        | FROM p GROUP BY 1)
        |SELECT path, n FROM c ORDER BY n DESC, path LIMIT 20""".stripMargin,

    // DuckDB chr() takes a Unicode code point, so the decomposed
    // combining acute builds in ASCII SQL
    "x_nfc_normalize" ->
      """WITH p AS (SELECT p_partkey,
        |  p_name || ' cafe' || chr(769) AS deco
        | FROM part WHERE p_partkey <= 300)
        |SELECT p_partkey, nfc_normalize(deco) AS norm,
        | CAST(length(deco) AS INTEGER) AS len_raw,
        | CAST(length(nfc_normalize(deco)) AS INTEGER) AS len_norm
        |FROM p ORDER BY p_partkey""".stripMargin,

    // the custom exec's contract IS the rank window's result
    "custom_topk_exec" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM (
        | SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  row_number() OVER (PARTITION BY o_orderstatus
        |   ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        | FROM orders) WHERE rn <= 3
        |ORDER BY o_orderstatus, o_orderkey""".stripMargin,

    "sql_recursive_tree" ->
      """WITH RECURSIVE d(k, depth) AS (
        | SELECT CAST(1 AS BIGINT) AS k, 0 AS depth
        | UNION ALL
        | SELECT c.c_custkey, d.depth + 1
        | FROM customer c JOIN d ON c.c_custkey // 2 = d.k
        | WHERE c.c_custkey > 1)
        |SELECT depth, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(k) AS BIGINT) AS key_sum
        |FROM d GROUP BY depth ORDER BY depth""".stripMargin,

    // LATERAL per-group top-N, deterministic tiebreak on the key
    "join_lateral_topn" ->
      """SELECT n.n_name, c.c_custkey, c.c_acctbal
        |FROM nation n, LATERAL (
        |  SELECT c_custkey, c_acctbal FROM customer
        |  WHERE c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey LIMIT 3) c
        |ORDER BY n.n_name, c.c_acctbal DESC, c.c_custkey""".stripMargin,

    // replicates TextOps.dsirWeights: md5-first-two-hex-digit feature
    // hash, add-1-smoothed target/raw bucket distributions, each ln
    // quantized to DECIMAL(14,12), per-doc exact decimal Σ n·lr
    "text_dsir" ->
      """WITH t AS (SELECT doc_id,
        |  string_split_regex(trim(lower(text)), '\s+') AS ts
        | FROM documents),
        |b AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)),
        |  i -> ts[i] || ' ' || ts[i+1])) AS bigram
        | FROM t WHERE len(ts) >= 2),
        |fb AS (SELECT doc_id,
        |  ((strpos('0123456789abcdef', substr(md5(bigram), 1, 1)) - 1) * 16
        |   + strpos('0123456789abcdef', substr(md5(bigram), 2, 1)) - 1)
        |   % 256 AS f FROM b),
        |pd AS (SELECT doc_id, f, CAST(count(*) AS BIGINT) AS n
        | FROM fb GROUP BY 1, 2),
        |g AS (SELECT f,
        |  CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN n ELSE 0 END) AS BIGINT)
        |   AS tgt,
        |  CAST(SUM(n) AS BIGINT) AS raw FROM pd GROUP BY 1),
        |tot AS (SELECT CAST(SUM(tgt) AS BIGINT) AS t_tot,
        |  CAST(SUM(raw) AS BIGINT) AS r_tot FROM g),
        |model AS (SELECT f, CAST(
        |   CAST(ln(CAST(tgt + 1 AS DOUBLE)) AS DECIMAL(14,12))
        |   - CAST(ln(CAST(t_tot + 256 AS DOUBLE)) AS DECIMAL(14,12))
        |   - CAST(ln(CAST(raw + 1 AS DOUBLE)) AS DECIMAL(14,12))
        |   + CAST(ln(CAST(r_tot + 256 AS DOUBLE)) AS DECIMAL(14,12))
        |  AS DECIMAL(20,12)) AS lr FROM g CROSS JOIN tot)
        |SELECT pd.doc_id, CAST(SUM(n) AS BIGINT) AS n_features,
        | CAST(SUM(CAST(lr * CAST(n AS DECIMAL(8,0)) AS DECIMAL(30,12)))
        |  AS DOUBLE) AS dsir_logweight
        |FROM pd JOIN model USING (f)
        |GROUP BY pd.doc_id ORDER BY pd.doc_id""".stripMargin,

    // replicates TextOps.ccnetBuckets: lmFamiliarity terciles per
    // predicted language, bucket by value comparison against the
    // quantile_cont cutoffs
    "text_ccnet_buckets" -> {
      val hitCols = TextOps.LangMarkers.map { case (lang, words) =>
        val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter(ts, tk -> list_contains($lst, tk))) AS h_$lang"
      }.mkString(", ")
      val langs = TextOps.LangMarkers.map(_._1)
      val m = langs.map(l => s"h_$l").mkString("greatest(", ", ", ")")
      val cases = langs.map(l => s"WHEN h_$l = m THEN '$l'").mkString(" ")
      s"""WITH t AS (SELECT doc_id,
         |  string_split_regex(trim(lower(text)), '\\s+') AS ts
         | FROM documents),
         |h AS (SELECT doc_id, ts, $hitCols FROM t),
         |hm AS (SELECT *, $m AS m FROM h),
         |lid AS (SELECT doc_id,
         |  CASE WHEN m <= 0 THEN 'und' $cases END AS lang FROM hm),
         |b AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)),
         |  i -> ts[i] || ' ' || ts[i+1])) AS bigram
         | FROM t WHERE len(ts) >= 2),
         |mm AS (SELECT bigram, count(*) AS c12 FROM b GROUP BY 1),
         |fam AS (SELECT b.doc_id,
         |  CAST(sum(CASE WHEN mm.c12 >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |   / CAST(count(*) AS DOUBLE) AS familiarity
         | FROM b JOIN mm USING (bigram) GROUP BY b.doc_id),
         |fl AS (SELECT fam.doc_id, lid.lang, fam.familiarity
         | FROM fam JOIN lid ON fam.doc_id = lid.doc_id),
         |cuts AS (SELECT lang,
         |  quantile_cont(familiarity, CAST(0.3333333333333333 AS DOUBLE))
         |   AS c_tail,
         |  quantile_cont(familiarity, CAST(0.6666666666666666 AS DOUBLE))
         |   AS c_head
         | FROM fl GROUP BY lang)
         |SELECT fl.doc_id, fl.lang, fl.familiarity,
         | CASE WHEN fl.familiarity > cuts.c_head THEN 'head'
         |  WHEN fl.familiarity > cuts.c_tail THEN 'middle'
         |  ELSE 'tail' END AS bucket
         |FROM fl JOIN cuts USING (lang)
         |ORDER BY fl.doc_id""".stripMargin
    },

    // replicates Similarity.pcaProjection: decimal-exact Gram, 12
    // power-iteration rounds with shortest-string decimal quantization
    // of each G·v product, max-abs normalization, decimal-summed
    // projection — the oracle replays the driver loop in unrolled CTEs
    "emb_pca" -> {
      val iters = 12
      // MATERIALIZED: DuckDB inlines plain CTEs per reference, which
      // expands the 12-step recurrence exponentially (and re-opens the
      // parquet thousands of times); materializing each step keeps the
      // oracle linear — and mirrors the driver loop's actual dataflow
      val steps = (1 to iters).map { k =>
        val pv = if (k == 1) "v0" else s"v${k - 1}"
        s"""w$k AS MATERIALIZED (SELECT g.i,
           |  CAST(CAST(SUM(CAST(CAST(g.g * v.v AS VARCHAR)
           |   AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) AS w
           | FROM gram g JOIN $pv v ON g.j = v.i GROUP BY g.i),
           |m$k AS MATERIALIZED (SELECT MAX(ABS(w)) AS m FROM w$k),
           |v$k AS MATERIALIZED (SELECT i, w / m AS v
           | FROM w$k CROSS JOIN m$k)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id, embedding AS emb FROM embeddings),
         |idx AS (SELECT unnest(range(1, 65)) AS i),
         |dv AS MATERIALIZED (SELECT vec_id, i,
         |  CAST(CAST(emb[i] AS VARCHAR) AS DECIMAL(17,15)) AS x
         | FROM e CROSS JOIN idx),
         |gram AS MATERIALIZED (SELECT a.i AS i, b.i AS j,
         |  CAST(CAST(SUM(CAST(CAST(a.x * b.x AS VARCHAR)
         |   AS DECIMAL(24,18))) AS VARCHAR) AS DOUBLE) AS g
         | FROM dv a JOIN dv b ON a.vec_id = b.vec_id GROUP BY 1, 2),
         |v0 AS (SELECT i, CAST(1 AS DOUBLE) AS v FROM idx),
         |$steps
         |SELECT e.vec_id,
         | CAST(CAST(SUM(CAST(CAST(emb[v.i] * v.v AS VARCHAR)
         |  AS DECIMAL(32,18))) AS VARCHAR) AS DOUBLE) AS pc1,
         | m$iters.m AS lambda1
         |FROM e CROSS JOIN v$iters v CROSS JOIN m$iters
         |GROUP BY e.vec_id, m$iters.m
         |ORDER BY e.vec_id""".stripMargin
    },

    // replicates AnalyticsOps.giniCoefficient: tie-group rank sums in
    // closed form over distinct cents (the oracle may use the naive
    // global window; the engine side uses the two-phase scan)
    "analytics_gini" ->
      """WITH g AS (SELECT
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |   AS cv,
        |  CAST(count(*) AS BIGINT) AS nv FROM orders GROUP BY 1),
        |c AS (SELECT cv, nv, coalesce(SUM(nv) OVER (ORDER BY cv
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |  CAST(0 AS BIGINT)) AS prev FROM g),
        |s AS (SELECT CAST(SUM(nv) AS BIGINT) AS n,
        |  CAST(SUM(cv * nv) AS BIGINT) AS s0c,
        |  CAST(CAST(SUM(CAST(CAST(cv AS DECIMAL(12,0)) *
        |   CAST(nv * prev + (nv * (nv + 1)) // 2 AS DECIMAL(20,0))
        |   AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS s1c
        | FROM c)
        |SELECT n AS n_rows, s0c AS total_cents,
        | (CAST(2 AS DOUBLE) * s1c)
        |  / (CAST(n AS DOUBLE) * CAST(s0c AS DOUBLE))
        |  - (CAST(n AS DOUBLE) + CAST(1 AS DOUBLE)) / CAST(n AS DOUBLE)
        |  AS gini
        |FROM s""".stripMargin,

    // tie groups counted whole (no arbitrary decile split); hugeint
    // cumulative sums, VARCHAR hop on every share operand
    "analytics_lorenz" ->
      """WITH spend AS (SELECT o_custkey,
        |  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sp
        | FROM orders GROUP BY 1),
        |c AS (SELECT CAST(sp * 100 AS BIGINT) AS cv FROM spend),
        |g AS (SELECT cv, CAST(count(*) AS BIGINT) AS nv FROM c
        | GROUP BY cv),
        |w AS (SELECT cv, nv, SUM(nv) OVER (ORDER BY cv) AS cum_n,
        |  SUM(cv * nv) OVER (ORDER BY cv) AS cum_s FROM g),
        |t AS (SELECT SUM(nv) AS n, SUM(cv * nv) AS s FROM g)
        |SELECT k.k AS decile, CAST(cum_n AS BIGINT) AS cum_entities,
        | CAST(CAST(cum_n AS VARCHAR) AS DOUBLE) /
        |  CAST(CAST(n AS VARCHAR) AS DOUBLE) AS pop_share,
        | CAST(CAST(cum_s AS VARCHAR) AS DOUBLE) /
        |  CAST(CAST(s AS VARCHAR) AS DOUBLE) AS value_share
        |FROM w CROSS JOIN t CROSS JOIN range(1, 11) k(k)
        |WHERE cum_n * 10 >= k.k * n AND (cum_n - nv) * 10 < k.k * n
        |ORDER BY decile""".stripMargin,

    // replicates AnalyticsOps.olsNormalEquations: identical moment sums
    // (decimal-exact, VARCHAR-routed to double) and the SAME Cramer
    // expression tree, token for token
    "analytics_ols_multi" ->
      """WITH c AS (SELECT CAST(l_quantity AS DECIMAL(19,4)) AS q1,
        |  CAST(l_discount AS DECIMAL(19,4)) AS q2,
        |  CAST(l_extendedprice AS DECIMAL(19,4)) AS qy
        | FROM lineitem),
        |m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |  CAST(CAST(SUM(q1) AS VARCHAR) AS DOUBLE) AS s1,
        |  CAST(CAST(SUM(q2) AS VARCHAR) AS DOUBLE) AS s2,
        |  CAST(CAST(SUM(qy) AS VARCHAR) AS DOUBLE) AS sy,
        |  CAST(CAST(SUM(q1 * q1) AS VARCHAR) AS DOUBLE) AS s11,
        |  CAST(CAST(SUM(q1 * q2) AS VARCHAR) AS DOUBLE) AS s12,
        |  CAST(CAST(SUM(q2 * q2) AS VARCHAR) AS DOUBLE) AS s22,
        |  CAST(CAST(SUM(q1 * qy) AS VARCHAR) AS DOUBLE) AS s1y,
        |  CAST(CAST(SUM(q2 * qy) AS VARCHAR) AS DOUBLE) AS s2y,
        |  CAST(CAST(SUM(qy * qy) AS VARCHAR) AS DOUBLE) AS syy
        | FROM c),
        |k AS (SELECT *,
        |  n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
        |    + s2 * (s1 * s12 - s11 * s2) AS det,
        |  sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
        |    + s2 * (s1y * s12 - s11 * s2y) AS det0,
        |  n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
        |    + s2 * (s1 * s2y - s1y * s2) AS det1,
        |  n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
        |    + sy * (s1 * s12 - s11 * s2) AS det2
        | FROM m)
        |SELECT CAST(n AS BIGINT) AS n_rows,
        | det0 / det AS b0, det1 / det AS b1, det2 / det AS b2,
        | CAST(1.0 AS DOUBLE) - (syy - (det0 / det) * sy
        |   - (det1 / det) * s1y - (det2 / det) * s2y)
        |  / (syy - sy * sy / n) AS r2
        |FROM k""".stripMargin,

    // replicates PipelineOps.bpeMerges: 3 unrolled rounds; the greedy
    // left-to-right non-overlapping merge is a string replace over a
    // control-char-wrapped encoding (⟨sym⟩ = chr(31)||sym||chr(30) —
    // no shared boundary chars, so replace() IS the greedy fold)
    "pipe_bpe_merges" -> {
      val enc = "array_to_string(list_transform(syms, " +
        "x -> chr(31) || x || chr(30)), '')"
      val rounds = (1 to 3).map { k =>
        s"""p$k AS (SELECT syms[i] AS a, syms[i+1] AS b,
           |  CAST(SUM(n) AS BIGINT) AS c
           | FROM w${k - 1}, unnest(range(1, len(syms))) AS t(i)
           | WHERE len(syms) >= 2 GROUP BY 1, 2),
           |t$k AS MATERIALIZED (SELECT a, b, c FROM p$k
           | ORDER BY c DESC, a ASC, b ASC LIMIT 1),
           |w$k AS MATERIALIZED (SELECT
           |  list_filter(list_transform(
           |   string_split(replace($enc,
           |    chr(31) || t$k.a || chr(30) || chr(31) || t$k.b || chr(30),
           |    chr(31) || t$k.a || t$k.b || chr(30)), chr(30)),
           |   x -> x[2:]), x -> x <> '') AS syms, n
           | FROM w${k - 1} CROSS JOIN t$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH w0 AS MATERIALIZED (SELECT string_split(w, '') AS syms, n
         | FROM (SELECT w, CAST(count(*) AS BIGINT) AS n FROM (
         |  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+'))
         |   AS w FROM documents) WHERE len(w) >= 1 GROUP BY w)),
         |$rounds
         |SELECT CAST(1 AS INTEGER) AS round, a AS sym_a, b AS sym_b,
         | c AS pair_count FROM t1
         |UNION ALL SELECT CAST(2 AS INTEGER), a, b, c FROM t2
         |UNION ALL SELECT CAST(3 AS INTEGER), a, b, c FROM t3
         |ORDER BY round""".stripMargin
    },

    // replicates PipelineOps.bpeEncode: the same 3 unrolled training
    // rounds (vocabulary carried with its word key this time), then a
    // word→|merged symbols| map join back onto the corpus and a per-doc
    // count/sum. Corpus assumption shared with pipe_bpe_merges: ASCII/
    // BMP text free of the 0x1E/0x1F sentinel control chars (the
    // engine splits per UTF-16 unit, the oracle per codepoint — equal
    // on BMP; the sentinels must not occur in the data).
    "pipe_bpe_encode" -> {
      val enc = "array_to_string(list_transform(syms, " +
        "x -> chr(31) || x || chr(30)), '')"
      val rounds = (1 to 3).map { k =>
        s"""p$k AS (SELECT syms[i] AS a, syms[i+1] AS b,
           |  CAST(SUM(n) AS BIGINT) AS c
           | FROM w${k - 1}, unnest(range(1, len(syms))) AS t(i)
           | WHERE len(syms) >= 2 GROUP BY 1, 2),
           |t$k AS MATERIALIZED (SELECT a, b, c FROM p$k
           | ORDER BY c DESC, a ASC, b ASC LIMIT 1),
           |w$k AS MATERIALIZED (SELECT w,
           |  list_filter(list_transform(
           |   string_split(replace($enc,
           |    chr(31) || t$k.a || chr(30) || chr(31) || t$k.b || chr(30),
           |    chr(31) || t$k.a || t$k.b || chr(30)), chr(30)),
           |   x -> x[2:]), x -> x <> '') AS syms, n
           | FROM w${k - 1} CROSS JOIN t$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH w0 AS MATERIALIZED (SELECT w, string_split(w, '') AS syms, n
         | FROM (SELECT w, CAST(count(*) AS BIGINT) AS n FROM (
         |  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+'))
         |   AS w FROM documents) WHERE len(w) >= 1 GROUP BY w)),
         |$rounds,
         |vocab AS (SELECT w, CAST(len(syms) AS BIGINT) AS wtoks FROM w3),
         |dw AS (SELECT doc_id,
         |  unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
         | FROM documents)
         |SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         | CAST(SUM(v.wtoks) AS BIGINT) AS n_tokens
         |FROM dw JOIN vocab v ON dw.w = v.w
         |GROUP BY dw.doc_id ORDER BY dw.doc_id""".stripMargin
    },

    "analytics_mad_anomaly" ->
      """WITH med AS (SELECT event_type,
        |  quantile_cont(value, 0.5) AS med FROM events GROUP BY 1),
        |mad AS (SELECT e.event_type, med,
        |  quantile_cont(abs(e.value - med), 0.5) AS mad
        | FROM events e JOIN med USING (event_type) GROUP BY 1, 2)
        |SELECT e.event_id, e.event_type, e.value, m.med, m.mad,
        | (e.value - m.med) / m.mad AS score
        |FROM events e JOIN mad m USING (event_type)
        |WHERE abs(e.value - m.med) > CAST(3.5 AS DOUBLE) * m.mad
        |ORDER BY e.event_id""".stripMargin,

    // replicates er_cluster_canonical: sorted-neighborhood matches →
    // recursive-CTE closure (the dedup_clusters pattern) → min-name
    // survivorship per cluster
    "er_cluster_canonical" ->
      """WITH RECURSIVE r0 AS (SELECT c_custkey AS id, c_name AS nm,
        |  row_number() OVER (ORDER BY c_name, c_custkey) AS rk
        | FROM customer),
        |m AS (SELECT least(a.id, b.id) AS u, greatest(a.id, b.id) AS v
        | FROM r0 a JOIN r0 b ON b.rk > a.rk AND b.rk <= a.rk + 5
        | WHERE levenshtein(a.nm, b.nm) <= 1),
        |und AS (SELECT u, v FROM m UNION ALL SELECT v, u FROM m),
        |r(a, b) AS (
        |  SELECT u, v FROM und
        |  UNION
        |  SELECT r.a, und.v FROM r JOIN und ON r.b = und.u
        |),
        |rep AS (SELECT a AS id, least(a, min(b)) AS cluster_id
        | FROM r GROUP BY a)
        |SELECT rep.cluster_id, CAST(count(*) AS BIGINT) AS size,
        | min(c.c_name) AS canonical_name,
        | CAST(max(rep.id) AS BIGINT) AS max_member
        |FROM rep JOIN customer c ON rep.id = c.c_custkey
        |GROUP BY rep.cluster_id ORDER BY cluster_id""".stripMargin,

    // replicates AnalyticsOps.seasonalDecompose: daily decimal totals,
    // centered 7-row trend (full windows only), per-dow detrended mean.
    // DuckDB dow: date_part('dow') is 0=Sunday; Spark dayofweek-1 same.
    "ts_seasonal_decompose" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(22,6))) AS VARCHAR)
        |   AS DOUBLE) AS y
        | FROM events GROUP BY 1, 2),
        |tr AS (SELECT event_type, day, y,
        |  CASE WHEN count(*) OVER w7 = 7
        |   THEN CAST(CAST(SUM(CAST(y AS DECIMAL(22,6))) OVER w7
        |     AS VARCHAR) AS DOUBLE)
        |     / CAST(7 AS DOUBLE) END AS trend
        | FROM daily
        | WINDOW w7 AS (PARTITION BY event_type ORDER BY day
        |  ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |det AS (SELECT *, y - trend AS det FROM tr)
        |SELECT event_type, day, y, trend,
        | CASE WHEN det IS NOT NULL
        |  THEN CAST(CAST(SUM(CAST(det AS DECIMAL(22,6))) OVER wd
        |    AS VARCHAR) AS DOUBLE)
        |    / CAST(count(det) OVER wd AS DOUBLE) END AS seasonal,
        | y - trend - (CASE WHEN det IS NOT NULL
        |  THEN CAST(CAST(SUM(CAST(det AS DECIMAL(22,6))) OVER wd
        |    AS VARCHAR) AS DOUBLE)
        |    / CAST(count(det) OVER wd AS DOUBLE) END) AS resid
        |FROM det
        |WINDOW wd AS (PARTITION BY event_type, date_part('dow', day))
        |ORDER BY event_type, day""".stripMargin,

    // replicates GraphOps.labelPropagation: 4 synchronous rounds,
    // most-frequent neighbor label, ties to the smallest label;
    // MATERIALIZED per round (DuckDB would otherwise inline the
    // recurrence exponentially — same trap as emb_pca)
    "graph_label_propagation" ->
      s"""WITH $duckLpaCtes
         |SELECT node, label FROM l4 ORDER BY node""".stripMargin,

    // modularity: replay the LPA rounds, then Q's per-community
    // contribution from exact integer edge/degree counts
    // bin via |binary digits|-1 — exact integers, no libm log2
    "graph_degree_hist" ->
      """WITH k AS (SELECT c_custkey AS kk FROM customer
        | WHERE c_custkey > 3),
        |e0 AS (SELECT kk AS src, kk // 2 AS dst FROM k
        | UNION ALL SELECT kk, kk // 4 FROM k),
        |und AS (SELECT DISTINCT least(src, dst) AS u,
        |  greatest(src, dst) AS v FROM e0
        | WHERE least(src, dst) <> greatest(src, dst)),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        | SELECT u AS node FROM und UNION ALL SELECT v FROM und)
        | GROUP BY node)
        |SELECT CAST(length(to_base(deg, 2)) - 1 AS INTEGER) AS bin,
        | CAST(count(*) AS BIGINT) AS n_nodes,
        | min(deg) AS min_deg, max(deg) AS max_deg
        |FROM deg GROUP BY 1 ORDER BY bin""".stripMargin,

    "analytics_new_returning" ->
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id
        | FROM events WHERE user_id IS NOT NULL),
        |f AS (SELECT user_id, min(d) AS first_d FROM du GROUP BY 1)
        |SELECT du.d,
        | CAST(count(CASE WHEN du.d = f.first_d THEN 1 END) AS BIGINT)
        |   AS n_new,
        | CAST(count(CASE WHEN du.d > f.first_d THEN 1 END) AS BIGINT)
        |   AS n_returning
        |FROM du JOIN f ON du.user_id = f.user_id
        |GROUP BY du.d ORDER BY du.d""".stripMargin,

    // Pearson over edge-stub degree pairs; integer power sums in
    // HUGEINT, VARCHAR hop, IEEE form in the same term order as Spark
    "graph_assortativity" ->
      """WITH k AS (SELECT c_custkey AS kk FROM customer
        | WHERE c_custkey > 3),
        |e0 AS (SELECT kk AS src, kk // 2 AS dst FROM k
        | UNION ALL SELECT kk, kk // 4 FROM k),
        |und AS (SELECT DISTINCT least(src, dst) AS u,
        |  greatest(src, dst) AS v FROM e0
        | WHERE least(src, dst) <> greatest(src, dst)),
        |deg AS (SELECT node, CAST(count(*) AS HUGEINT) AS deg FROM (
        | SELECT u AS node FROM und UNION ALL SELECT v FROM und)
        | GROUP BY node),
        |p AS (SELECT da.deg AS dx, db.deg AS dy
        | FROM und JOIN deg da ON und.u = da.node
        | JOIN deg db ON und.v = db.node),
        |sym AS (SELECT dx, dy FROM p UNION ALL SELECT dy, dx FROM p),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(CAST(SUM(dx) AS VARCHAR) AS DOUBLE) AS sx,
        |  CAST(CAST(SUM(dy) AS VARCHAR) AS DOUBLE) AS sy,
        |  CAST(CAST(SUM(dx * dy) AS VARCHAR) AS DOUBLE) AS sxy,
        |  CAST(CAST(SUM(dx * dx) AS VARCHAR) AS DOUBLE) AS sxx,
        |  CAST(CAST(SUM(dy * dy) AS VARCHAR) AS DOUBLE) AS syy
        | FROM sym)
        |SELECT CAST(cnt / 2 AS BIGINT) AS n_edges, cnt AS n_stubs,
        | (CAST(cnt AS DOUBLE) * sxy - sx * sy) /
        |  sqrt((CAST(cnt AS DOUBLE) * sxx - sx * sx) *
        |   (CAST(cnt AS DOUBLE) * syy - sy * sy)) AS assortativity
        |FROM s""".stripMargin,

    "graph_modularity" ->
      s"""WITH $duckLpaCtes,
         |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
         | FROM adj GROUP BY node),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
         |dc AS (SELECT l.label, CAST(SUM(d.deg) AS BIGINT) AS d_c
         | FROM deg d JOIN l4 l ON d.node = l.node GROUP BY 1),
         |intra AS (SELECT lu.label, CAST(count(*) AS BIGINT) AS e_c
         | FROM und JOIN l4 lu ON und.u = lu.node
         | JOIN l4 lv ON und.v = lv.node
         | WHERE lu.label = lv.label GROUP BY 1)
         |SELECT dc.label, COALESCE(intra.e_c, 0) AS e_c, dc.d_c,
         | CAST(COALESCE(intra.e_c, 0) AS DOUBLE) / CAST(m.m AS DOUBLE)
         | - (CAST(dc.d_c AS DOUBLE)
         |     / (CAST(2 AS DOUBLE) * CAST(m.m AS DOUBLE)))
         |   * (CAST(dc.d_c AS DOUBLE)
         |     / (CAST(2 AS DOUBLE) * CAST(m.m AS DOUBLE)))
         |  AS contribution
         |FROM dc LEFT JOIN intra ON dc.label = intra.label
         |CROSS JOIN m ORDER BY dc.label""".stripMargin,

    "analytics_conversion_lag" ->
      """WITH v AS (SELECT user_id,
        |  CAST(MIN(epoch_us(ts)) AS BIGINT) AS first_view_us
        | FROM events WHERE event_type = 'view' GROUP BY 1),
        |pu AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS pus
        | FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT pu.user_id, first_view_us,
        |  CAST(MIN(pus) AS BIGINT) AS first_purchase_us
        | FROM pu JOIN v USING (user_id) WHERE pus > first_view_us
        | GROUP BY 1, 2)
        |SELECT user_id, first_view_us, first_purchase_us,
        | first_purchase_us - first_view_us AS lag_us
        |FROM c ORDER BY user_id""".stripMargin,

    "join_asof_nearest_view" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
        | WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
        |b AS (SELECT p.event_id, p.user_id, p.ts, v.ts AS bts
        | FROM p ASOF LEFT JOIN v
        | ON p.user_id = v.user_id AND v.ts <= p.ts),
        |f AS (SELECT p.event_id, v.ts AS fts FROM p ASOF LEFT JOIN v
        | ON p.user_id = v.user_id AND v.ts >= p.ts)
        |SELECT b.event_id, b.user_id, b.ts,
        | CASE WHEN bts IS NULL THEN fts
        |  WHEN fts IS NULL THEN bts
        |  WHEN epoch_us(b.ts) - epoch_us(bts)
        |    <= epoch_us(fts) - epoch_us(b.ts) THEN bts
        |  ELSE fts END AS nearest_view_ts
        |FROM b JOIN f USING (event_id)
        |ORDER BY event_id""".stripMargin,

    // replicates GraphOps.commonNeighborJaccard on the halving-edge
    // graph (same fixture as graph_triangles)
    "graph_common_neighbors" ->
      """WITH k AS (SELECT c_custkey AS kk FROM customer
        | WHERE c_custkey > 3),
        |e0 AS (SELECT kk AS src, kk // 2 AS dst FROM k
        | UNION ALL SELECT kk, kk // 4 FROM k),
        |und AS (SELECT DISTINCT least(src, dst) AS u,
        |  greatest(src, dst) AS v FROM e0
        | WHERE least(src, dst) <> greatest(src, dst)),
        |adj AS (SELECT u AS node, v AS nb FROM und
        | UNION ALL SELECT v, u FROM und),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
        | FROM adj GROUP BY node),
        |small AS (SELECT adj.node, adj.nb FROM adj
        | JOIN deg ON adj.node = deg.node WHERE deg.deg <= 10000),
        |w AS (SELECT a.nb AS id_a, b.nb AS id_b FROM small a
        | JOIN small b ON a.node = b.node AND a.nb < b.nb),
        |cn AS (SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_common
        | FROM w GROUP BY 1, 2)
        |SELECT cn.id_a, cn.id_b, cn.n_common,
        | da.deg AS deg_a, db.deg AS deg_b,
        | CAST(cn.n_common AS DOUBLE) /
        |  CAST(da.deg + db.deg - cn.n_common AS DOUBLE) AS jaccard
        |FROM cn JOIN deg da ON cn.id_a = da.node
        |JOIN deg db ON cn.id_b = db.node
        |ORDER BY cn.id_a, cn.id_b""".stripMargin,

    // LCC: the triangle census keeping the wedge apex, each closed
    // triangle exploded into its three members, 2T/(d(d−1)) per node
    "graph_clustering_coeff" ->
      """WITH k AS (SELECT c_custkey AS kk FROM customer
        | WHERE c_custkey > 3),
        |e0 AS (SELECT kk AS src, kk // 2 AS dst FROM k
        | UNION ALL SELECT kk, kk // 4 FROM k),
        |und AS (SELECT DISTINCT least(src, dst) AS u,
        |  greatest(src, dst) AS v FROM e0
        | WHERE least(src, dst) <> greatest(src, dst)),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        |  SELECT u AS node FROM und UNION ALL SELECT v FROM und)
        | GROUP BY node),
        |o AS (SELECT
        |  CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v)
        |   THEN u ELSE v END AS s,
        |  CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v)
        |   THEN v ELSE u END AS t,
        |  CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v)
        |   THEN dv.deg ELSE du.deg END AS tdeg
        | FROM und JOIN deg du ON u = du.node JOIN deg dv ON v = dv.node),
        |w AS (SELECT e1.s AS a, e1.t AS b, e2.t AS c FROM o e1 JOIN o e2
        | ON e1.s = e2.s AND (e1.tdeg < e2.tdeg
        |  OR (e1.tdeg = e2.tdeg AND e1.t < e2.t))),
        |closed AS (SELECT a, b, c FROM w
        | WHERE EXISTS (SELECT 1 FROM o WHERE w.b = o.s AND w.c = o.t)),
        |tri AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
        |  SELECT a AS node FROM closed
        |  UNION ALL SELECT b FROM closed
        |  UNION ALL SELECT c FROM closed) GROUP BY node)
        |SELECT deg.node, deg.deg, COALESCE(tri.n_tri, 0) AS n_tri,
        | CASE WHEN deg.deg >= 2
        |  THEN CAST(COALESCE(tri.n_tri, 0) * 2 AS DOUBLE)
        |    / CAST(deg.deg * (deg.deg - 1) AS DOUBLE)
        |  ELSE CAST(0 AS DOUBLE) END AS lcc
        |FROM deg LEFT JOIN tri ON deg.node = tri.node
        |ORDER BY deg.node""".stripMargin,

    // RA = Σ 10¹² div deg(apex) per wedge pair — exact integer sum,
    // floated once at the end; same no-op hub cap as common_neighbors
    "graph_resource_alloc" ->
      """WITH k AS (SELECT c_custkey AS kk FROM customer
        | WHERE c_custkey > 3),
        |e0 AS (SELECT kk AS src, kk // 2 AS dst FROM k
        | UNION ALL SELECT kk, kk // 4 FROM k),
        |und AS (SELECT DISTINCT least(src, dst) AS u,
        |  greatest(src, dst) AS v FROM e0
        | WHERE least(src, dst) <> greatest(src, dst)),
        |adj AS (SELECT u AS node, v AS nb FROM und
        | UNION ALL SELECT v, u FROM und),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
        | FROM adj GROUP BY node),
        |small AS (SELECT adj.node, adj.nb, deg.deg FROM adj
        | JOIN deg ON adj.node = deg.node WHERE deg.deg <= 10000),
        |w AS (SELECT a.nb AS id_a, b.nb AS id_b,
        |  1000000000000 // a.deg AS fp FROM small a
        | JOIN small b ON a.node = b.node AND a.nb < b.nb)
        |SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_common,
        | CAST(CAST(sum(fp) AS BIGINT) AS DOUBLE)
        |   / CAST(1000000000000 AS DOUBLE) AS ra
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // AA replay: same wedge relation, witness credit 1/ln(deg)
    // quantized to DECIMAL(14,12) before the exact decimal sum
    "graph_adamic_adar" ->
      """WITH k AS (SELECT c_custkey AS kk FROM customer
        | WHERE c_custkey > 3),
        |e0 AS (SELECT kk AS src, kk // 2 AS dst FROM k
        | UNION ALL SELECT kk, kk // 4 FROM k),
        |und AS (SELECT DISTINCT least(src, dst) AS u,
        |  greatest(src, dst) AS v FROM e0
        | WHERE least(src, dst) <> greatest(src, dst)),
        |adj AS (SELECT u AS node, v AS nb FROM und
        | UNION ALL SELECT v, u FROM und),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
        | FROM adj GROUP BY node),
        |small AS (SELECT adj.node, adj.nb, deg.deg FROM adj
        | JOIN deg ON adj.node = deg.node WHERE deg.deg <= 10000),
        |w AS (SELECT a.nb AS id_a, b.nb AS id_b,
        |  CAST(1.0 / ln(CAST(a.deg AS DOUBLE)) AS DECIMAL(14,12)) AS w
        | FROM small a
        | JOIN small b ON a.node = b.node AND a.nb < b.nb)
        |SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_common,
        | CAST(CAST(sum(w) AS DECIMAL(24,12)) AS DOUBLE) AS aa
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // synchronous peel replay: 10 chained filter+degree rounds on the
    // tree + 20-clique fixture (converges at round 7)
    "graph_kcore" -> {
      val rounds = (1 to 10).map { i =>
        s"""al$i AS MATERIALIZED (SELECT node FROM a${i - 1}
           | GROUP BY node HAVING count(*) >= 3),
           |a$i AS MATERIALIZED (SELECT a.node, a.nb FROM a${i - 1} a
           | JOIN al$i x ON a.node = x.node
           | JOIN al$i y ON a.nb = y.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH tr AS (SELECT c_custkey AS src, c_custkey // 2 AS dst
         |  FROM customer WHERE c_custkey > 1),
         |cl AS (SELECT a.c_custkey AS src, b.c_custkey AS dst
         |  FROM customer a JOIN customer b
         |  ON a.c_custkey < b.c_custkey
         | WHERE a.c_custkey <= 20 AND b.c_custkey <= 20),
         |e0 AS (SELECT src, dst FROM tr UNION ALL
         | SELECT src, dst FROM cl),
         |und AS (SELECT DISTINCT least(src, dst) AS u,
         |  greatest(src, dst) AS v FROM e0
         | WHERE least(src, dst) <> greatest(src, dst)),
         |a0 AS MATERIALIZED (SELECT u AS node, v AS nb FROM und
         | UNION ALL SELECT v, u FROM und),
         |$rounds
         |SELECT node, CAST(count(*) AS BIGINT) AS core_deg
         |FROM a10 GROUP BY node ORDER BY node""".stripMargin
    },

    // the pageRank recurrence with restart mass on the seed set only
    "graph_ppr" -> {
      val iters = (1 to 3).map { i =>
        val prev = if (i == 1) "pr0" else s"pr${i - 1}"
        s"""it$i AS (SELECT e.dst AS node,
           |  CAST(CAST(SUM(CAST(CAST(p.pr / CAST(d.deg AS DOUBLE)
           |    AS VARCHAR) AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE)
           |    AS s
           |  FROM edges e JOIN $prev p ON e.src = p.node
           |  JOIN deg d ON e.src = d.src GROUP BY e.dst),
           |pr$i AS (SELECT wn.node,
           |  (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * wn.is_seed
           |    / ns.sd
           |    + CAST(0.85 AS DOUBLE) * COALESCE(it$i.s, CAST(0 AS DOUBLE))
           |    AS pr
           |  FROM wn CROSS JOIN ns
           |  LEFT JOIN it$i ON wn.node = it$i.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH edges AS (SELECT c_custkey AS src, c_custkey // 2 AS dst
         |  FROM customer WHERE c_custkey > 1),
         |nodes AS (SELECT DISTINCT node FROM (
         |  SELECT src AS node FROM edges
         |  UNION ALL SELECT dst FROM edges)),
         |seeds AS (SELECT node FROM nodes WHERE node <= 10),
         |ns AS (SELECT CAST(count(*) AS DOUBLE) AS sd FROM seeds),
         |wn AS (SELECT n.node, CASE WHEN s.node IS NOT NULL
         |   THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS is_seed
         |  FROM nodes n LEFT JOIN seeds s ON n.node = s.node),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
         |  FROM edges GROUP BY src),
         |pr0 AS (SELECT wn.node, wn.is_seed / ns.sd AS pr
         |  FROM wn CROSS JOIN ns),
         |$iters
         |SELECT node, pr FROM pr3 ORDER BY node""".stripMargin
    },

    // add-k bigram LM over bigram-start history counts; per-bigram
    // −ln P on the 1e-12 fixed-point grid, summed as BIGINT
    "text_bigram_lm" ->
      s"""WITH tk AS (SELECT doc_id, $duckTokens AS toks FROM documents),
         |ex AS (SELECT doc_id,
         |  CAST(unnest(generate_series(1, len(toks))) AS BIGINT) AS pos,
         |  unnest(toks) AS w FROM tk),
         |toks AS (SELECT doc_id, pos, w FROM ex WHERE length(w) >= 1),
         |bi AS (SELECT doc_id, w, lead(w) OVER (PARTITION BY doc_id
         |    ORDER BY pos) AS w2 FROM toks),
         |bb AS (SELECT doc_id, w, w2 FROM bi WHERE w2 IS NOT NULL),
         |bc AS (SELECT w, w2, CAST(count(*) AS BIGINT) AS c12
         | FROM bb GROUP BY 1, 2),
         |uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c1
         | FROM bb GROUP BY 1),
         |vv AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
         | FROM toks),
         |sc AS (SELECT bb.doc_id,
         |  -CAST(floor(ln((CAST(c12 AS DOUBLE) + CAST(0.5 AS DOUBLE))
         |    / (CAST(c1 AS DOUBLE) + CAST(0.5 AS DOUBLE)
         |       * CAST(v AS DOUBLE))) * 1e12) AS BIGINT) AS nllfp
         | FROM bb JOIN bc USING (w, w2) JOIN uc USING (w)
         |   CROSS JOIN vv),
         |g AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(nllfp) AS BIGINT) AS s FROM sc GROUP BY 1)
         |SELECT doc_id, n_bigrams,
         | CAST(s AS DOUBLE) / 1e12 AS sum_nll,
         | CAST(s AS DOUBLE) / 1e12 / CAST(n_bigrams AS DOUBLE)
         |   AS avg_nll
         |FROM g ORDER BY doc_id""".stripMargin,

    // VecDot replay against the Scala-inlined JL sign rows (offset-1000
    // md5 plane family), scaled by √16 = 4 exactly
    "emb_random_projection" -> {
      val m = graft.operators.Similarity.jlSignMatrix(16, 64)
      val cols = (0 until 16).map { j =>
        val arr = m(j).map(v => if (v > 0) "1" else "-1")
          .mkString("[", ",", "]")
        s"${duckDot("embedding", arr)} / sqrt(CAST(16 AS DOUBLE))" +
          f" AS p$j%02d"
      }.mkString(",\n ")
      s"SELECT vec_id,\n $cols\nFROM embeddings ORDER BY vec_id"
    },

    // A-ES: u from the first 8 md5 hex digits (uint32 + ½ midpoint),
    // key = ln(u)/w, top-50 keys (doc_id tie-break) — replayed exactly
    "pipe_weighted_sample" ->
      """WITH s AS (SELECT doc_id, n_chars,
        |  ln((CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
        |        1, 8) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0)
        |    / CAST(n_chars AS DOUBLE) AS es_key
        | FROM documents WHERE n_chars > 0)
        |SELECT doc_id, n_chars, es_key FROM s
        |ORDER BY es_key DESC, doc_id LIMIT 50""".stripMargin,

    "pipe_span_corruption" ->
      """WITH tk AS (SELECT doc_id,
        |  regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        | FROM documents),
        |ex AS (SELECT doc_id,
        |  CAST(unnest(generate_series(1, len(toks))) AS BIGINT) - 1
        |    AS pos,
        |  unnest(toks) AS tok FROM tk),
        |toks AS (SELECT doc_id, pos, tok FROM ex
        | WHERE length(tok) >= 1),
        |m AS (SELECT doc_id, pos,
        |  CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
        |    || ':' || CAST(pos AS VARCHAR)), 1, 8) AS BIGINT)
        |    % 100 < 15 THEN 1 ELSE 0 END AS mk
        | FROM toks),
        |f AS (SELECT doc_id, mk,
        |  CASE WHEN mk = 1 AND COALESCE(lag(mk) OVER (
        |    PARTITION BY doc_id ORDER BY pos), 0) = 0
        |   THEN 1 ELSE 0 END AS st
        | FROM m),
        |g AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(mk) AS BIGINT) AS n_masked,
        |  CAST(sum(st) AS BIGINT) AS n_spans
        | FROM f GROUP BY 1)
        |SELECT doc_id, n_tokens, n_masked, n_spans,
        | n_tokens - n_masked + n_spans AS input_len,
        | n_masked + n_spans AS target_len
        |FROM g ORDER BY doc_id""".stripMargin,

    // product-limit survival via the documented 1e-15 log grid:
    // Σ⌊ln(1−d/n)·10¹⁵⌋ in BIGINT, exponentiated per row
    "analytics_kaplan_meier" ->
      """WITH us AS (SELECT user_id,
        |  min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t0,
        |  max(epoch_us(ts)) AS t_last
        | FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |fe AS (SELECT user_id, epoch_us(ts) AS te FROM events
        | WHERE event_type = 'purchase' AND user_id IS NOT NULL),
        |subj AS (SELECT u.user_id, u.t0, u.t_last,
        |  min(CASE WHEN fe.te > u.t0 THEN fe.te END) AS t_evt
        | FROM us u LEFT JOIN fe ON u.user_id = fe.user_id
        | WHERE u.t0 IS NOT NULL GROUP BY 1, 2, 3),
        |d AS (SELECT CASE WHEN t_evt IS NOT NULL THEN t_evt - t0
        |   ELSE t_last - t0 END AS dur_us,
        |  CASE WHEN t_evt IS NOT NULL THEN 1 ELSE 0 END AS ev
        | FROM subj),
        |dd AS (SELECT * FROM d WHERE dur_us > 0),
        |g AS (SELECT dur_us, CAST(sum(ev) AS BIGINT) AS d,
        |  CAST(sum(1 - ev) AS BIGINT) AS c,
        |  CAST(count(*) AS BIGINT) AS tot FROM dd GROUP BY 1),
        |r AS (SELECT *, (SELECT CAST(count(*) AS BIGINT) FROM dd)
        |   - (CAST(sum(tot) OVER (ORDER BY dur_us) AS BIGINT) - tot)
        |   AS n_risk FROM g),
        |e AS (SELECT dur_us, d, c, n_risk,
        |  CASE WHEN d >= n_risk THEN CAST(-2000000000000000000 AS BIGINT)
        |   ELSE CAST(floor(ln(1 - CAST(d AS DOUBLE)
        |     / CAST(n_risk AS DOUBLE)) * 1e15) AS BIGINT) END AS lnfp
        | FROM r WHERE d > 0)
        |SELECT dur_us, d, c, n_risk,
        | CAST(CAST(sum(lnfp) OVER (ORDER BY dur_us) AS BIGINT)
        |   AS DOUBLE) / 1e15 AS log_survival
        |FROM e ORDER BY dur_us""".stripMargin,

    // prefix sums in exact DECIMAL(22,6); gain from those exact sums
    // with the same three IEEE divisions as the Spark side
    "ts_changepoint" ->
      """WITH b AS (SELECT user_id, event_id, ts, value FROM events
        | WHERE value IS NOT NULL AND user_id IS NOT NULL),
        |w AS (SELECT user_id, event_id, ts,
        |  count(*) OVER (PARTITION BY user_id) AS n,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS i,
        |  sum(CAST(value AS DECIMAL(22,6))) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sl,
        |  sum(CAST(value AS DECIMAL(22,6)))
        |    OVER (PARTITION BY user_id) AS s
        | FROM b),
        |cand AS (SELECT user_id, n, ts, event_id,
        |  CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / CAST(i AS DOUBLE)
        |  + CAST(s - sl AS DOUBLE) * CAST(s - sl AS DOUBLE)
        |    / CAST(n - i AS DOUBLE)
        |  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
        |    AS gain
        | FROM w WHERE n >= 20 AND i < n),
        |best AS (SELECT user_id, n, ts, gain, row_number() OVER (
        |  PARTITION BY user_id ORDER BY gain DESC, ts, event_id) AS rn
        | FROM cand)
        |SELECT user_id, CAST(n AS BIGINT) AS n_obs, ts AS split_ts, gain
        |FROM best WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "privacy_l_diversity" ->
      """SELECT c_nationkey, c_mktsegment,
        | CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS l_div,
        | count(DISTINCT o_orderpriority) >= 3 AS diverse
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // HITS: replay both half-steps per iteration with the same
    // DECIMAL(38,18)-accumulated sums (VARCHAR-routed — DuckDB's
    // direct double<->decimal casts double-round) and L1 norms
    "graph_hits" -> {
      def dsum18(c: String) =
        s"CAST(CAST(SUM(CAST(CAST($c AS VARCHAR) AS DECIMAL(38,18)))" +
          s" AS VARCHAR) AS DOUBLE)"
      val iters = (1 to 2).map { i =>
        val ph = if (i == 1) "h0" else s"hn${i - 1}"
        s"""ar$i AS (SELECT e.dst, ${dsum18("h.hub")} AS s
           |  FROM edges e JOIN $ph h ON e.src = h.node GROUP BY e.dst),
           |au$i AS (SELECT n.node, COALESCE(ar$i.s, CAST(0 AS DOUBLE))
           |    AS auth
           |  FROM nodes n LEFT JOIN ar$i ON n.node = ar$i.dst),
           |an$i AS (SELECT node, auth /
           |    (SELECT ${dsum18("auth")} FROM au$i) AS auth FROM au$i),
           |hr$i AS (SELECT e.src, ${dsum18("a.auth")} AS s
           |  FROM edges e JOIN an$i a ON e.dst = a.node GROUP BY e.src),
           |hu$i AS (SELECT n.node, COALESCE(hr$i.s, CAST(0 AS DOUBLE))
           |    AS hub
           |  FROM nodes n LEFT JOIN hr$i ON n.node = hr$i.src),
           |hn$i AS (SELECT node, hub /
           |    (SELECT ${dsum18("hub")} FROM hu$i) AS hub FROM hu$i)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH edges AS (SELECT DISTINCT c_custkey AS src,
         |  c_custkey // 2 AS dst FROM customer
         |  WHERE c_custkey > 1 AND c_custkey <> c_custkey // 2),
         |nodes AS (SELECT DISTINCT node FROM (
         |  SELECT src AS node FROM edges
         |  UNION ALL SELECT dst FROM edges)),
         |h0 AS (SELECT node, CAST(1 AS DOUBLE) AS hub FROM nodes),
         |$iters
         |SELECT h.node, h.hub, a.auth
         |FROM hn2 h JOIN an2 a ON h.node = a.node
         |ORDER BY h.node""".stripMargin
    },

    // multi-source BFS: 5 relaxation rounds over the undirected
    // adjacency — integer-only, bit-exact by construction
    // per-source BFS rounds; 1/d as the integer 10^12-scaled quotient
    "graph_harmonic_closeness" -> {
      val rounds = (1 to 5).map { i =>
        s"""d$i AS (SELECT source, node, MIN(dist) AS dist FROM (
           |  SELECT source, node, dist FROM d${i - 1}
           |  UNION ALL SELECT d.source, a.node, d.dist + 1
           |  FROM adj a JOIN d${i - 1} d ON a.nb = d.node)
           | GROUP BY source, node)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (SELECT c_custkey AS src, c_custkey // 2 AS dst
         |  FROM customer WHERE c_custkey > 1),
         |und AS (SELECT DISTINCT least(src, dst) AS u,
         |   greatest(src, dst) AS v FROM e0
         |  WHERE least(src, dst) <> greatest(src, dst)),
         |adj AS (SELECT u AS node, v AS nb FROM und
         |  UNION ALL SELECT v, u FROM und),
         |d0 AS (SELECT c_custkey AS source, c_custkey AS node,
         |   CAST(0 AS BIGINT) AS dist
         |  FROM customer WHERE c_custkey <= 4),
         |$rounds
         |SELECT source, CAST(count(*) AS BIGINT) AS n_reached,
         | CAST(CAST(SUM(1000000000000 // dist) AS VARCHAR) AS DOUBLE)
         |   / 1e12 AS harmonic
         |FROM d5 WHERE dist > 0 GROUP BY source
         |ORDER BY source""".stripMargin
    },

    "graph_shortest_hops" -> {
      val rounds = (1 to 5).map { i =>
        s"""d$i AS (SELECT node, MIN(dist) AS dist FROM (
           |  SELECT node, dist FROM d${i - 1}
           |  UNION ALL SELECT a.node, d.dist + 1
           |  FROM adj a JOIN d${i - 1} d ON a.nb = d.node)
           | GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (SELECT c_custkey AS src, c_custkey // 2 AS dst
         |  FROM customer WHERE c_custkey > 1),
         |und AS (SELECT DISTINCT least(src, dst) AS u,
         |   greatest(src, dst) AS v FROM e0
         |  WHERE least(src, dst) <> greatest(src, dst)),
         |adj AS (SELECT u AS node, v AS nb FROM und
         |  UNION ALL SELECT v, u FROM und),
         |d0 AS (SELECT c_custkey AS node, CAST(0 AS BIGINT) AS dist
         |  FROM customer WHERE c_custkey <= 2),
         |$rounds
         |SELECT node, CAST(dist AS BIGINT) AS dist FROM d5
         |ORDER BY node""".stripMargin
    },

    // ACF from exact-integer sufficient statistics (HUGEINT mirrors
    // the engine's DECIMAL(38,0)); one VARCHAR-routed division at
    // the end
    "ts_acf" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |  CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
        |idx AS (SELECT event_type, x, row_number() OVER (
        |  PARTITION BY event_type ORDER BY day) AS t FROM daily),
        |base AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  SUM(CAST(x AS HUGEINT)) AS s,
        |  SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS q
        | FROM idx GROUP BY 1),
        |lags AS (SELECT unnest(generate_series(1, 3)) AS lag),
        |ov AS (SELECT a.event_type, l.lag,
        |  CAST(count(*) AS BIGINT) AS m,
        |  SUM(CAST(a.x AS HUGEINT) * CAST(b.x AS HUGEINT)) AS pk,
        |  SUM(CAST(a.x AS HUGEINT)) AS sh,
        |  SUM(CAST(b.x AS HUGEINT)) AS st
        | FROM idx a CROSS JOIN lags l
        | JOIN idx b ON b.event_type = a.event_type
        |  AND b.t = a.t + l.lag
        | GROUP BY 1, 2)
        |SELECT o.event_type, CAST(o.lag AS BIGINT) AS lag, b.n,
        | CAST(CAST(CAST(b.n AS HUGEINT) * CAST(b.n AS HUGEINT) * o.pk
        |    - CAST(b.n AS HUGEINT) * b.s * (o.sh + o.st)
        |    + CAST(o.m AS HUGEINT) * b.s * b.s AS VARCHAR) AS DOUBLE)
        | / CAST(CAST(CAST(b.n AS HUGEINT) * CAST(b.n AS HUGEINT) * b.q
        |    - CAST(b.n AS HUGEINT) * b.s * b.s AS VARCHAR) AS DOUBLE)
        |  AS acf
        |FROM ov o JOIN base b ON o.event_type = b.event_type
        |ORDER BY o.event_type, lag""".stripMargin,

    "ts_cross_correlation" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |  CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS x,
        |  CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT)
        |    AS y
        | FROM events WHERE event_type IN ('view', 'purchase')
        | GROUP BY 1),
        |idx AS (SELECT x, y, row_number() OVER (ORDER BY day) AS t
        | FROM daily),
        |base AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
        |  SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS qx,
        |  SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS qy
        | FROM idx),
        |lags AS (SELECT unnest(generate_series(0, 3)) AS lag),
        |ov AS (SELECT l.lag, CAST(count(*) AS BIGINT) AS m,
        |  SUM(CAST(a.x AS HUGEINT) * CAST(b.y AS HUGEINT)) AS pk,
        |  SUM(CAST(a.x AS HUGEINT)) AS sh,
        |  SUM(CAST(b.y AS HUGEINT)) AS st
        | FROM idx a CROSS JOIN lags l JOIN idx b ON b.t = a.t + l.lag
        | GROUP BY 1)
        |SELECT CAST(o.lag AS BIGINT) AS lag, b.n, o.m,
        | CAST(CAST(CAST(b.n AS HUGEINT) * CAST(b.n AS HUGEINT) * o.pk
        |    - CAST(b.n AS HUGEINT) * b.sx * o.st
        |    - CAST(b.n AS HUGEINT) * b.sy * o.sh
        |    + CAST(o.m AS HUGEINT) * b.sx * b.sy AS VARCHAR) AS DOUBLE)
        | / sqrt(
        |   CAST(CAST(CAST(b.n AS HUGEINT) * CAST(b.n AS HUGEINT) * b.qx
        |     - CAST(b.n AS HUGEINT) * b.sx * b.sx AS VARCHAR) AS DOUBLE)
        |   * CAST(CAST(CAST(b.n AS HUGEINT) * CAST(b.n AS HUGEINT) * b.qy
        |     - CAST(b.n AS HUGEINT) * b.sy * b.sy AS VARCHAR) AS DOUBLE))
        |  AS ccf
        |FROM ov o CROSS JOIN base b ORDER BY lag""".stripMargin,

    // Benford: leading digit off the DECIMAL(18,2) rendering (plain
    // notation on both engines); expected probabilities are literal
    // doubles, so no transcendental enters the hash
    "analytics_benford" ->
      """WITH d AS (SELECT regexp_extract(CAST(CAST(o_totalprice
        |    AS DECIMAL(18,2)) AS VARCHAR), '[1-9]', 0) AS digit
        |  FROM orders),
        |counts AS (SELECT digit, CAST(count(*) AS BIGINT) AS n
        |  FROM d WHERE digit <> '' GROUP BY digit),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts),
        |f AS (SELECT digit, n,
        |  CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS p_obs,
        |  CASE digit
        |   WHEN '1' THEN CAST('0.30102999566398120' AS DOUBLE)
        |   WHEN '2' THEN CAST('0.17609125905568124' AS DOUBLE)
        |   WHEN '3' THEN CAST('0.12493873660829993' AS DOUBLE)
        |   WHEN '4' THEN CAST('0.09691001300805642' AS DOUBLE)
        |   WHEN '5' THEN CAST('0.07918124604762482' AS DOUBLE)
        |   WHEN '6' THEN CAST('0.06694678963061322' AS DOUBLE)
        |   WHEN '7' THEN CAST('0.05799194697768673' AS DOUBLE)
        |   WHEN '8' THEN CAST('0.05115252244738129' AS DOUBLE)
        |   WHEN '9' THEN CAST('0.04575749056067514' AS DOUBLE)
        |  END AS p_exp,
        |  CAST(total AS DOUBLE) AS totd
        | FROM counts CROSS JOIN tot)
        |SELECT digit, n, p_obs, p_exp,
        | (p_obs - p_exp) * (p_obs - p_exp) / p_exp * totd AS chi2
        |FROM f ORDER BY digit""".stripMargin,

    // t-closeness: exact integer cross-products in HUGEINT (the
    // engine's DECIMAL(38,0)), one VARCHAR-routed division
    "privacy_t_closeness" ->
      """WITH j AS (SELECT c_nationkey, c_mktsegment, o_orderpriority
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |cls AS (SELECT c_nationkey, c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n_c FROM j GROUP BY 1, 2),
        |marg AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_s
        |  FROM j GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM j),
        |grid AS (SELECT cls.c_nationkey, cls.c_mktsegment, cls.n_c,
        |  m.n_s, t.n_tot, COALESCE(ce.n_cs, 0) AS n_cs
        | FROM cls CROSS JOIN marg m CROSS JOIN tot t
        | LEFT JOIN (SELECT c_nationkey, c_mktsegment, o_orderpriority,
        |    CAST(count(*) AS BIGINT) AS n_cs FROM j GROUP BY 1, 2, 3) ce
        |  ON cls.c_nationkey = ce.c_nationkey
        |  AND cls.c_mktsegment = ce.c_mktsegment
        |  AND m.o_orderpriority = ce.o_orderpriority)
        |SELECT c_nationkey, c_mktsegment, n_c,
        | CAST(CAST(SUM(abs(CAST(n_cs AS HUGEINT) * CAST(n_tot AS HUGEINT)
        |    - CAST(n_s AS HUGEINT) * CAST(n_c AS HUGEINT)))
        |   AS VARCHAR) AS DOUBLE)
        | / (CAST(2 AS DOUBLE) * CAST(n_c AS DOUBLE)
        |    * CAST(MAX(n_tot) AS DOUBLE)) AS t_closeness
        |FROM grid GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin,

    // Mann–Whitney U: closed-form tie-group midranks over the
    // cent-quantized pooled values (the Gini construction)
    "analytics_mann_whitney" ->
      """WITH v AS (SELECT event_type AS arm,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cv
        | FROM events WHERE event_type IN ('view', 'click')
        |  AND value IS NOT NULL),
        |g AS (SELECT cv,
        |  CAST(count(*) FILTER (arm = 'view') AS BIGINT) AS n1v,
        |  CAST(count(*) AS BIGINT) AS m FROM v GROUP BY cv),
        |w AS (SELECT n1v, m,
        |  CAST(SUM(m) OVER (ORDER BY cv) AS BIGINT) - m AS prev FROM g),
        |s AS (SELECT CAST(SUM(n1v) AS BIGINT) AS n1,
        |  CAST(SUM(m - n1v) AS BIGINT) AS n2,
        |  SUM(CAST(n1v AS HUGEINT) * (2 * CAST(prev AS HUGEINT)
        |    + CAST(m AS HUGEINT) + 1)) AS r1x2,
        |  SUM(CAST(m AS HUGEINT) * CAST(m AS HUGEINT)
        |    * CAST(m AS HUGEINT) - CAST(m AS HUGEINT)) AS ties
        | FROM w),
        |f AS (SELECT n1, n2,
        |  CAST(CAST(r1x2 - CAST(n1 AS HUGEINT)
        |    * (CAST(n1 AS HUGEINT) + 1) AS VARCHAR) AS DOUBLE)
        |   / CAST(2 AS DOUBLE) AS u1,
        |  CAST(CAST(ties AS VARCHAR) AS DOUBLE) AS tie_term FROM s),
        |f2 AS (SELECT n1, n2, u1, tie_term,
        |  CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / CAST(12 AS DOUBLE)
        |   * (CAST(n1 + n2 + 1 AS DOUBLE) - tie_term
        |     / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE)))
        |   AS var_u
        | FROM f)
        |SELECT n1, n2, u1, tie_term,
        | CASE WHEN var_u > CAST(0 AS DOUBLE) THEN
        |  (u1 - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |    / CAST(2 AS DOUBLE)) / sqrt(var_u)
        | ELSE CAST('nan' AS DOUBLE) END AS z
        |FROM f2""".stripMargin,

    // RFM: quartile bucket = rows-strictly-below·4 // total — the
    // value-grouped rank decomposition replayed with windows
    "analytics_rfm" ->
      """WITH pc AS (SELECT o_custkey AS custkey,
        |  CAST(date_diff('day', max(o_orderdate), DATE '1998-12-01')
        |    AS BIGINT) AS recency_days,
        |  CAST(count(*) AS BIGINT) AS frequency,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
        |    AS BIGINT) AS monetary_cents
        | FROM orders GROUP BY 1),
        |q AS (SELECT custkey, recency_days, frequency, monetary_cents,
        |  (CAST(count(*) OVER (ORDER BY recency_days) AS BIGINT)
        |   - CAST(count(*) OVER (PARTITION BY recency_days) AS BIGINT))
        |   * 4 // CAST(count(*) OVER () AS BIGINT) AS recency_days_q,
        |  (CAST(count(*) OVER (ORDER BY frequency) AS BIGINT)
        |   - CAST(count(*) OVER (PARTITION BY frequency) AS BIGINT))
        |   * 4 // CAST(count(*) OVER () AS BIGINT) AS frequency_q,
        |  (CAST(count(*) OVER (ORDER BY monetary_cents) AS BIGINT)
        |   - CAST(count(*) OVER (PARTITION BY monetary_cents) AS BIGINT))
        |   * 4 // CAST(count(*) OVER () AS BIGINT) AS monetary_cents_q
        | FROM pc)
        |SELECT custkey, recency_days, frequency, monetary_cents,
        | recency_days_q, frequency_q, monetary_cents_q,
        | CAST(recency_days_q AS VARCHAR) || CAST(frequency_q AS VARCHAR)
        |   || CAST(monetary_cents_q AS VARCHAR) AS rfm_cell
        |FROM q ORDER BY custkey""".stripMargin,

    // KMV/theta sketch: the k smallest distinct 60-bit md5 hashes per
    // group; DuckDB parses the identical '0x…' hex prefix the engine
    // conv()s, so the kept sets are bit-identical
    "sketch_theta" ->
      """WITH h AS (SELECT event_type AS grp,
        |  CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
        |    AS BIGINT) AS h
        | FROM events WHERE user_id IS NOT NULL),
        |d AS (SELECT DISTINCT grp, h FROM h),
        |r AS (SELECT grp, h, row_number() OVER (PARTITION BY grp
        |  ORDER BY h) AS rn FROM d),
        |sk AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_kept,
        |  max(h) AS kth FROM r WHERE rn <= 64 GROUP BY grp),
        |ex AS (SELECT grp, CAST(count(*) AS BIGINT) AS exact_distinct
        | FROM d GROUP BY grp)
        |SELECT sk.grp AS grp, n_kept,
        | CASE WHEN n_kept >= 64 THEN kth
        |  ELSE 1152921504606846976 END AS theta,
        | CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
        |  ELSE CAST(63 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
        |   / CAST(CASE WHEN n_kept >= 64 THEN kth
        |      ELSE 1152921504606846976 END AS DOUBLE)
        |  END AS est_distinct,
        | exact_distinct
        |FROM sk JOIN ex ON sk.grp = ex.grp ORDER BY grp""".stripMargin,

    "sketch_theta_setops" ->
      """WITH h AS (SELECT event_type AS arm,
        |  CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
        |    AS BIGINT) AS h
        | FROM events WHERE user_id IS NOT NULL
        |  AND event_type IN ('view', 'click')),
        |d AS (SELECT DISTINCT arm, h FROM h),
        |r AS (SELECT arm, h, row_number() OVER (PARTITION BY arm
        |  ORDER BY h) AS rn FROM d),
        |ka AS (SELECT h FROM r WHERE arm = 'view' AND rn <= 64),
        |kb AS (SELECT h FROM r WHERE arm = 'click' AND rn <= 64),
        |sa AS (SELECT CAST(count(*) AS BIGINT) AS n_a, max(h) AS mx_a
        | FROM ka),
        |sb AS (SELECT CAST(count(*) AS BIGINT) AS n_b, max(h) AS mx_b
        | FROM kb),
        |uu AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM (
        | SELECT DISTINCT h FROM (SELECT h FROM ka
        |  UNION ALL SELECT h FROM kb))),
        |su AS (SELECT CAST(count(*) AS BIGINT) AS n_u, max(h) AS mx_u
        | FROM uu WHERE rn <= 64),
        |t AS (SELECT n_a,
        | CASE WHEN n_a >= 64 THEN mx_a
        |  ELSE 1152921504606846976 END AS theta_a,
        | n_b,
        | CASE WHEN n_b >= 64 THEN mx_b
        |  ELSE 1152921504606846976 END AS theta_b,
        | n_u,
        | CASE WHEN n_u >= 64 THEN mx_u
        |  ELSE 1152921504606846976 END AS theta_u
        | FROM sa CROSS JOIN sb CROSS JOIN su),
        |i AS (SELECT CAST(count(*) AS BIGINT) AS n_common
        | FROM ka JOIN kb USING (h) CROSS JOIN t
        | WHERE h < least(t.theta_a, t.theta_b))
        |SELECT n_a, theta_a, n_b, theta_b,
        | CASE WHEN n_u < 64 THEN CAST(n_u AS DOUBLE)
        |  ELSE CAST(63 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
        |   / CAST(theta_u AS DOUBLE) END AS est_union,
        | n_common,
        | least(theta_a, theta_b) AS theta_i,
        | CAST(n_common AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
        |  / CAST(least(theta_a, theta_b) AS DOUBLE) AS est_inter
        |FROM t CROSS JOIN i""".stripMargin,

    // one-way ANOVA: per-group exact moments in HUGEINT; the only
    // floating-point steps are S_g²/n_g per group (decimal-accumulated
    // at scale 6) and the final F assembly, mirrored token-for-token
    "analytics_anova" ->
      """WITH v AS (SELECT event_type AS grp,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cv
        | FROM events WHERE value IS NOT NULL
        |  AND event_type IS NOT NULL),
        |g AS (SELECT grp, CAST(count(*) AS BIGINT) AS ng,
        |  SUM(CAST(cv AS HUGEINT)) AS sg,
        |  SUM(CAST(cv AS HUGEINT) * CAST(cv AS HUGEINT)) AS qg
        | FROM v GROUP BY grp),
        |r AS (SELECT ng, sg, qg,
        |  CAST(CAST(sg AS VARCHAR) AS DOUBLE)
        |   * CAST(CAST(sg AS VARCHAR) AS DOUBLE) / CAST(ng AS DOUBLE)
        |   AS r FROM g),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |  CAST(SUM(ng) AS BIGINT) AS n, SUM(sg) AS stot,
        |  SUM(qg) AS qtot,
        |  CAST(CAST(SUM(CAST(CAST(r AS VARCHAR) AS DECIMAL(38,6)))
        |    AS VARCHAR) AS DOUBLE) AS rtot FROM r)
        |SELECT k AS n_groups, n AS n_total,
        | ((rtot - CAST(CAST(stot AS VARCHAR) AS DOUBLE)
        |    * CAST(CAST(stot AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
        |   / CAST(k - 1 AS DOUBLE))
        | / ((CAST(CAST(qtot AS VARCHAR) AS DOUBLE) - rtot)
        |   / CAST(n - k AS DOUBLE)) AS f_stat
        |FROM s""".stripMargin,

    // the anova sufficient-statistics chain extended per group: grand
    // mean, pooled within-variance, the scale-6-quantized Σdev², then
    // the positive-part shrinkage factor as one IEEE expression
    "analytics_james_stein" ->
      """WITH v AS (SELECT event_type AS grp,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cv
        | FROM events WHERE value IS NOT NULL
        |  AND event_type IS NOT NULL),
        |g AS (SELECT grp, CAST(count(*) AS BIGINT) AS ng,
        |  SUM(CAST(cv AS HUGEINT)) AS sg,
        |  SUM(CAST(cv AS HUGEINT) * CAST(cv AS HUGEINT)) AS qg
        | FROM v GROUP BY grp),
        |r AS (SELECT grp, ng, sg, qg,
        |  CAST(CAST(sg AS VARCHAR) AS DOUBLE)
        |   * CAST(CAST(sg AS VARCHAR) AS DOUBLE) / CAST(ng AS DOUBLE)
        |   AS r FROM g),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |  CAST(SUM(ng) AS BIGINT) AS n, SUM(sg) AS stot,
        |  SUM(qg) AS qtot,
        |  CAST(CAST(SUM(CAST(CAST(r AS VARCHAR) AS DECIMAL(38,6)))
        |    AS VARCHAR) AS DOUBLE) AS rtot FROM r),
        |wt AS (SELECT r.grp, r.ng, s.k, s.n,
        |  CAST(CAST(s.stot AS VARCHAR) AS DOUBLE) / CAST(s.n AS DOUBLE)
        |    AS grand,
        |  CAST(CAST(r.sg AS VARCHAR) AS DOUBLE) / CAST(r.ng AS DOUBLE)
        |    AS mean_g,
        |  (CAST(CAST(s.qtot AS VARCHAR) AS DOUBLE) - s.rtot)
        |    / CAST(s.n - s.k AS DOUBLE) AS s2
        |  FROM r CROSS JOIN s),
        |wd AS (SELECT *, mean_g - grand AS dev FROM wt),
        |ss AS (SELECT CAST(CAST(SUM(CAST(CAST(dev * dev AS VARCHAR)
        |    AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS ssb FROM wd)
        |SELECT grp, ng AS n, mean_g / CAST(100 AS DOUBLE) AS mean,
        | greatest(CAST(0 AS DOUBLE), CAST(1 AS DOUBLE)
        |   - CAST(k - 3 AS DOUBLE) * (s2 / CAST(ng AS DOUBLE)) / ssb)
        |   AS shrink,
        | (grand + greatest(CAST(0 AS DOUBLE), CAST(1 AS DOUBLE)
        |   - CAST(k - 3 AS DOUBLE) * (s2 / CAST(ng AS DOUBLE)) / ssb)
        |   * dev) / CAST(100 AS DOUBLE) AS shrunk_mean
        |FROM wd CROSS JOIN ss ORDER BY grp""".stripMargin,

    // pooled two-proportion z: exact count pairs, one IEEE expression
    "analytics_ab_proportions" ->
      """WITH g AS (SELECT event_type,
        |  CAST(count(CASE WHEN user_id % 2 = 0 THEN 1 END) AS BIGINT)
        |    AS n_a,
        |  CAST(SUM(CASE WHEN user_id % 2 = 0 AND value > 50
        |    THEN 1 ELSE 0 END) AS BIGINT) AS x_a,
        |  CAST(count(CASE WHEN user_id % 2 = 1 THEN 1 END) AS BIGINT)
        |    AS n_b,
        |  CAST(SUM(CASE WHEN user_id % 2 = 1 AND value > 50
        |    THEN 1 ELSE 0 END) AS BIGINT) AS x_b
        | FROM events GROUP BY 1),
        |p AS (SELECT *,
        |  CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
        |  CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
        |  CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS pp
        | FROM g)
        |SELECT event_type, n_a, x_a, n_b, x_b, p_a, p_b,
        | (p_a - p_b) / sqrt(pp * (CAST(1 AS DOUBLE) - pp)
        |   * (CAST(1 AS DOUBLE) / CAST(n_a AS DOUBLE)
        |     + CAST(1 AS DOUBLE) / CAST(n_b AS DOUBLE))) AS z
        |FROM p ORDER BY event_type""".stripMargin,

    // randomization-test p-values (B=64 md5-coin unit reassignments,
    // add-one rational p) + integer-arithmetic BH step-up at q=1/20
    "analytics_rand_fdr" ->
      """WITH ev AS (SELECT event_type AS grp, user_id,
        |  CAST(user_id % 2 AS INTEGER) AS arm,
        |  CAST(CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS succ FROM events),
        |hs AS (SELECT grp, user_id, succ, chunk,
        |  md5(CAST(user_id AS VARCHAR) || ':'
        |    || CAST(chunk AS VARCHAR)) AS hh
        | FROM ev, (SELECT unnest(range(0, 4)) AS chunk)),
        |bits AS (SELECT grp, succ, chunk * 16 + pos AS r,
        |  (ascii(substr(hh, CAST(2 * pos + 2 AS INTEGER), 1))
        |   - CASE WHEN ascii(substr(hh, CAST(2 * pos + 2 AS INTEGER),
        |       1)) >= 97 THEN 87 ELSE 48 END) % 2 AS bit
        | FROM hs, (SELECT unnest(range(0, 16)) AS pos)),
        |rep AS (SELECT grp, r, CAST(SUM(bit) AS BIGINT) AS cb,
        |  CAST(SUM(bit * succ) AS BIGINT) AS sb
        | FROM bits GROUP BY 1, 2),
        |base AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(succ) AS BIGINT) AS x,
        |  CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_a,
        |  CAST(SUM(CASE WHEN arm = 0 THEN succ ELSE 0 END) AS BIGINT)
        |    AS x_a
        | FROM ev GROUP BY 1),
        |obs AS (SELECT grp, n, x, n_a, x_a,
        |  CASE WHEN n_a = 0 OR n - n_a = 0 THEN NULL
        |   ELSE CAST(abs(CAST(x_a AS HUGEINT) * (n - n_a)
        |       - CAST(x - x_a AS HUGEINT) * n_a) AS DOUBLE)
        |     / CAST(CAST(n_a AS HUGEINT) * (n - n_a) AS DOUBLE)
        |  END AS t_obs FROM base),
        |tb AS (SELECT rep.grp, rep.r,
        |  CASE WHEN cb = 0 OR o.n - cb = 0 THEN NULL
        |   ELSE CAST(abs(CAST(sb AS HUGEINT) * (o.n - cb)
        |       - CAST(o.x - sb AS HUGEINT) * cb) AS DOUBLE)
        |     / CAST(CAST(cb AS HUGEINT) * (o.n - cb) AS DOUBLE)
        |  END AS t_b
        | FROM rep JOIN obs o ON rep.grp = o.grp),
        |pv AS (SELECT o.grp, o.n_a, o.x_a, o.n - o.n_a AS n_b,
        |  o.x - o.x_a AS x_b,
        |  CAST(CASE WHEN o.t_obs IS NULL THEN 65
        |   ELSE 1 + SUM(CASE WHEN t.t_b IS NULL OR t.t_b >= o.t_obs
        |     THEN 1 ELSE 0 END) END AS BIGINT) AS p_num
        | FROM obs o JOIN tb t ON t.grp = o.grp
        | GROUP BY o.grp, o.n_a, o.x_a, o.n, o.x, o.t_obs),
        |rk AS (SELECT grp, n_a, x_a, n_b, x_b, p_num,
        |  CAST(row_number() OVER (ORDER BY p_num, grp) AS BIGINT)
        |    AS bh_rank FROM pv),
        |kk AS (SELECT max(CASE WHEN p_num * 20
        |      * (SELECT count(*) FROM rk) <= 65 * bh_rank
        |    THEN bh_rank ELSE 0 END) AS bh_k FROM rk)
        |SELECT r.grp, r.n_a, r.x_a, r.n_b, r.x_b, r.p_num,
        | CAST(r.p_num AS DOUBLE) / 65.0 AS p_value, r.bh_rank,
        | r.bh_rank <= kk.bh_k AS reject
        |FROM rk r CROSS JOIN kk ORDER BY r.grp""".stripMargin,

    // Kendall tau-b replay: calendar-collapsed pair signs, exact
    // integer concordance counts, separate square roots
    "ts_kendall_tau" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS x,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS y
        | FROM events WHERE event_type IN ('view', 'click')
        | GROUP BY 1),
        |p AS (SELECT r.x - l.x AS dx, r.y - l.y AS dy
        | FROM daily l JOIN daily r ON l.day < r.day),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n0,
        |  CAST(SUM(CASE WHEN (dx > 0 AND dy > 0)
        |    OR (dx < 0 AND dy < 0) THEN 1 ELSE 0 END) AS BIGINT) AS nc,
        |  CAST(SUM(CASE WHEN (dx > 0 AND dy < 0)
        |    OR (dx < 0 AND dy > 0) THEN 1 ELSE 0 END) AS BIGINT) AS nd,
        |  CAST(SUM(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS tx,
        |  CAST(SUM(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS ty FROM p),
        |d AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily)
        |SELECT n_days, n0, nc, nd, tx, ty,
        | CASE WHEN CAST(n0 - tx AS DOUBLE) > CAST(0 AS DOUBLE)
        |   AND CAST(n0 - ty AS DOUBLE) > CAST(0 AS DOUBLE)
        |  THEN CAST(nc - nd AS DOUBLE)
        |    / (sqrt(CAST(n0 - tx AS DOUBLE))
        |       * sqrt(CAST(n0 - ty AS DOUBLE)))
        |  ELSE CAST('nan' AS DOUBLE) END AS tau_b
        |FROM a CROSS JOIN d ORDER BY n_days""".stripMargin,

    // double-sweep replay: two unrolled 16-round BFS relaxations,
    // argmax with (dist desc, node asc) tie-breaks
    "graph_double_sweep" -> {
      // MATERIALIZED: each round references its predecessor twice —
      // an inlining planner would expand the chain exponentially
      def rounds(pfx: String, n: Int) = (1 to n).map { i =>
        s"""$pfx$i AS MATERIALIZED (SELECT node, MIN(dist) AS dist FROM (
           |  SELECT node, dist FROM $pfx${i - 1}
           |  UNION ALL SELECT a.node, d.dist + 1
           |  FROM adj a JOIN $pfx${i - 1} d ON a.nb = d.node)
           | GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""WITH c0 AS (SELECT c_custkey AS k FROM customer
         |  WHERE c_custkey > 3),
         |e0 AS (SELECT k AS src, k // 2 AS dst FROM c0
         | UNION ALL SELECT k, k // 4 FROM c0),
         |und AS (SELECT DISTINCT least(src, dst) AS u,
         |  greatest(src, dst) AS v FROM e0
         | WHERE least(src, dst) <> greatest(src, dst)),
         |adj AS MATERIALIZED (SELECT u AS node, v AS nb FROM und
         | UNION ALL SELECT v, u FROM und),
         |nodes AS (SELECT DISTINCT node FROM adj),
         |s0 AS (SELECT MIN(node) AS node FROM nodes),
         |p0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM s0),
         |${rounds("p", 16)},
         |f1 AS (SELECT node AS far1, CAST(dist AS BIGINT) AS ecc1
         |  FROM p16 ORDER BY dist DESC, node ASC LIMIT 1),
         |q0 AS (SELECT far1 AS node, CAST(0 AS BIGINT) AS dist
         |  FROM f1),
         |${rounds("q", 16)},
         |f2 AS (SELECT node AS far2, CAST(dist AS BIGINT)
         |   AS diameter_lb
         |  FROM q16 ORDER BY dist DESC, node ASC LIMIT 1),
         |r AS (SELECT CAST(count(*) AS BIGINT) AS n_reached FROM q16)
         |SELECT s0.node AS seed, ecc1, far1, diameter_lb, far2,
         | n_reached
         |FROM s0 CROSS JOIN f1 CROSS JOIN f2 CROSS JOIN r
         |ORDER BY seed""".stripMargin
    },

    // TOST replay: exact cross-product delta, unpooled se as the
    // mirrored IEEE tree, parsed-literal margin and z critical
    "analytics_tost" ->
      """WITH ev AS (SELECT event_type AS grp,
        |  CAST(user_id % 2 AS INTEGER) AS arm,
        |  CAST(CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS succ FROM events),
        |g AS (SELECT grp,
        |  CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_a,
        |  CAST(SUM(CASE WHEN arm = 0 THEN succ ELSE 0 END) AS BIGINT)
        |    AS x_a,
        |  CAST(SUM(CASE WHEN arm <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_b,
        |  CAST(SUM(CASE WHEN arm <> 0 THEN succ ELSE 0 END) AS BIGINT)
        |    AS x_b
        | FROM ev GROUP BY 1),
        |f AS (SELECT grp, n_a, x_a, n_b, x_b,
        |  CAST(CAST(x_a AS HUGEINT) * n_b
        |    - CAST(x_b AS HUGEINT) * n_a AS DOUBLE)
        |   / CAST(CAST(n_a AS HUGEINT) * n_b AS DOUBLE) AS delta,
        |  sqrt((CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE))
        |     * (CAST(1 AS DOUBLE)
        |        - CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE))
        |     / CAST(n_a AS DOUBLE)
        |   + (CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |     * (CAST(1 AS DOUBLE)
        |        - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |     / CAST(n_b AS DOUBLE)) AS se
        | FROM g),
        |w AS (SELECT grp, n_a, x_a, n_b, x_b, delta, se,
        |  (delta + CAST(1 AS DOUBLE) / CAST(20 AS DOUBLE)) / se
        |    AS z_low,
        |  (delta - CAST(1 AS DOUBLE) / CAST(20 AS DOUBLE)) / se
        |    AS z_up
        | FROM f)
        |SELECT grp, n_a, x_a, n_b, x_b, delta, se, z_low, z_up,
        | z_low > CAST(1.6448536269514722 AS DOUBLE)
        |  AND z_up < -CAST(1.6448536269514722 AS DOUBLE) AS equivalent
        |FROM w ORDER BY grp""".stripMargin,

    // CMH replay: per-stratum E/V/OR terms as fixed IEEE trees over
    // exact HUGEINT cell products, each floored onto the 1e-6 grid
    // and summed exactly; final square + two divisions
    "analytics_cmh" ->
      """WITH ev AS (SELECT event_type AS grp,
        |  CAST((CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS BIGINT)
        |    AS k,
        |  CAST(user_id % 2 AS INTEGER) AS arm,
        |  CAST(CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS succ FROM events WHERE value IS NOT NULL),
        |cl AS (SELECT grp, k,
        |  CAST(SUM(CASE WHEN arm = 0 AND succ <> 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS a,
        |  CAST(SUM(CASE WHEN arm = 0 AND succ = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS b,
        |  CAST(SUM(CASE WHEN arm <> 0 AND succ <> 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS c,
        |  CAST(SUM(CASE WHEN arm <> 0 AND succ = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS d
        | FROM ev GROUP BY 1, 2),
        |t AS (SELECT grp, a,
        |  CAST(a + b + c + d AS HUGEINT) AS n,
        |  CAST(a + b AS HUGEINT) AS ab, CAST(c + d AS HUGEINT) AS cd,
        |  CAST(a + c AS HUGEINT) AS ac, CAST(b + d AS HUGEINT) AS bd,
        |  CAST(a AS HUGEINT) * d AS adp, CAST(b AS HUGEINT) * c AS bcp
        | FROM cl),
        |g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_strata,
        |  CAST(SUM(a) AS BIGINT) AS sum_a,
        |  SUM(CAST(floor(CAST(ab * ac AS DOUBLE) / CAST(n AS DOUBLE)
        |    * 1e6) AS HUGEINT)) AS se_grid,
        |  SUM(CASE WHEN n > 1 THEN
        |    CAST(floor(CAST(ab * cd * ac * bd AS DOUBLE)
        |      / CAST(n * n * (n - 1) AS DOUBLE) * 1e6) AS HUGEINT)
        |   ELSE 0 END) AS sv_grid,
        |  SUM(CAST(floor(CAST(adp AS DOUBLE)
        |    / CAST(n AS DOUBLE) * 1e6) AS HUGEINT)) AS son_grid,
        |  SUM(CAST(floor(CAST(bcp AS DOUBLE)
        |    / CAST(n AS DOUBLE) * 1e6) AS HUGEINT)) AS sod_grid
        | FROM t GROUP BY 1),
        |f AS (SELECT grp, n_strata, sum_a,
        |  CAST(CAST(se_grid AS VARCHAR) AS DOUBLE) / 1e6 AS expected,
        |  CAST(CAST(sv_grid AS VARCHAR) AS DOUBLE) / 1e6 AS variance,
        |  CAST(sum_a AS DOUBLE)
        |    - CAST(CAST(se_grid AS VARCHAR) AS DOUBLE) / 1e6 AS num,
        |  son_grid, sod_grid
        | FROM g),
        |w AS (SELECT grp, n_strata, sum_a, expected, variance,
        |  CASE WHEN variance > CAST(0 AS DOUBLE)
        |   THEN num * num / variance ELSE CAST(0 AS DOUBLE) END
        |    AS chi2,
        |  son_grid, sod_grid
        | FROM f)
        |SELECT grp, n_strata, sum_a, expected, variance, chi2,
        | chi2 > CAST(3.841458820694124 AS DOUBLE) AS assoc,
        | CASE WHEN sod_grid > 0 THEN
        |   CAST(CAST(son_grid AS VARCHAR) AS DOUBLE)
        |     / CAST(CAST(sod_grid AS VARCHAR) AS DOUBLE)
        |  ELSE CAST('nan' AS DOUBLE) END AS or_mh
        |FROM w ORDER BY grp""".stripMargin,

    // MI replay: contingency counts, every ln on an integer-valued
    // product (grid-floored), exact HUGEINT accumulations, final /N
    // divisions + one sqrt
    "analytics_mutual_info" ->
      """WITH ev AS (SELECT event_type AS a,
        |  CAST((CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS BIGINT)
        |    AS b FROM events
        | WHERE event_type IS NOT NULL AND ts IS NOT NULL),
        |c AS (SELECT a, b, CAST(count(*) AS BIGINT) AS o
        | FROM ev GROUP BY 1, 2),
        |rt AS (SELECT a, CAST(SUM(o) AS BIGINT) AS n_a FROM c GROUP BY 1),
        |ct AS (SELECT b, CAST(SUM(o) AS BIGINT) AS n_b FROM c GROUP BY 1),
        |t AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM c),
        |j AS (SELECT o, n_a, n_b, n FROM c
        | JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN t),
        |mi AS (SELECT MAX(n) AS n, SUM(CAST(o AS HUGEINT)
        |   * (CAST(floor(ln(CAST(CAST(o AS HUGEINT) * n AS DOUBLE))
        |        * 1e12) AS BIGINT)
        |      - CAST(floor(ln(CAST(CAST(n_a AS HUGEINT) * n_b
        |         AS DOUBLE)) * 1e12) AS BIGINT))) AS mi_sum FROM j),
        |ha AS (SELECT SUM(CAST(n_a AS HUGEINT)
        |   * (CAST(floor(ln(CAST(n AS DOUBLE)) * 1e12) AS BIGINT)
        |      - CAST(floor(ln(CAST(n_a AS DOUBLE)) * 1e12) AS BIGINT)))
        |  AS ha_sum FROM rt CROSS JOIN t),
        |hb AS (SELECT SUM(CAST(n_b AS HUGEINT)
        |   * (CAST(floor(ln(CAST(n AS DOUBLE)) * 1e12) AS BIGINT)
        |      - CAST(floor(ln(CAST(n_b AS DOUBLE)) * 1e12) AS BIGINT)))
        |  AS hb_sum FROM ct CROSS JOIN t),
        |f AS (SELECT n,
        |  CAST(CAST(mi_sum AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
        |    / 1e12 AS mi,
        |  CAST(CAST(ha_sum AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
        |    / 1e12 AS h_a,
        |  CAST(CAST(hb_sum AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
        |    / 1e12 AS h_b
        | FROM mi CROSS JOIN ha CROSS JOIN hb)
        |SELECT n, mi, h_a, h_b,
        | CASE WHEN h_a > CAST(0 AS DOUBLE) AND h_b > CAST(0 AS DOUBLE)
        |  THEN mi / sqrt(h_a * h_b) ELSE CAST('nan' AS DOUBLE) END
        |   AS nmi
        |FROM f ORDER BY n""".stripMargin,

    // local-bridges replay: per-edge triangle support by direct
    // common-neighbor counting (the oracle needs the result, not the
    // oriented-wedge plan)
    "graph_local_bridges" ->
      """WITH c AS (SELECT c_custkey AS k FROM customer
        |  WHERE c_custkey > 3),
        |e0 AS (SELECT k AS src, k // 2 AS dst FROM c
        | UNION ALL SELECT k, k // 4 FROM c),
        |und AS (SELECT DISTINCT LEAST(src, dst) AS u,
        |  GREATEST(src, dst) AS v FROM e0 WHERE src <> dst),
        |adj AS (SELECT u AS node, v AS nb FROM und
        | UNION ALL SELECT v, u FROM und),
        |sup AS (SELECT e.u, e.v, CAST(count(*) AS BIGINT) AS s
        | FROM und e JOIN adj x ON x.node = e.u
        | JOIN adj y ON y.node = e.v AND y.nb = x.nb
        | GROUP BY 1, 2)
        |SELECT und.u, und.v, coalesce(s, 0) AS support,
        | coalesce(s, 0) = 0 AS is_bridge
        |FROM und LEFT JOIN sup ON und.u = sup.u AND und.v = sup.v
        |ORDER BY und.u, und.v""".stripMargin,

    // Holm replay: the rand_fdr oracle's p-value sheet, then the
    // step-down in pure integer arithmetic (first failing rank blocks
    // everything after)
    "analytics_holm_fwer" ->
      """WITH ev AS (SELECT event_type AS grp, user_id,
        |  CAST(user_id % 2 AS INTEGER) AS arm,
        |  CAST(CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS succ FROM events),
        |hs AS (SELECT grp, user_id, succ, chunk,
        |  md5(CAST(user_id AS VARCHAR) || ':'
        |    || CAST(chunk AS VARCHAR)) AS hh
        | FROM ev, (SELECT unnest(range(0, 4)) AS chunk)),
        |bits AS (SELECT grp, succ, chunk * 16 + pos AS r,
        |  (ascii(substr(hh, CAST(2 * pos + 2 AS INTEGER), 1))
        |   - CASE WHEN ascii(substr(hh, CAST(2 * pos + 2 AS INTEGER),
        |       1)) >= 97 THEN 87 ELSE 48 END) % 2 AS bit
        | FROM hs, (SELECT unnest(range(0, 16)) AS pos)),
        |rep AS (SELECT grp, r, CAST(SUM(bit) AS BIGINT) AS cb,
        |  CAST(SUM(bit * succ) AS BIGINT) AS sb
        | FROM bits GROUP BY 1, 2),
        |base AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(succ) AS BIGINT) AS x,
        |  CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_a,
        |  CAST(SUM(CASE WHEN arm = 0 THEN succ ELSE 0 END) AS BIGINT)
        |    AS x_a
        | FROM ev GROUP BY 1),
        |obs AS (SELECT grp, n, x, n_a, x_a,
        |  CASE WHEN n_a = 0 OR n - n_a = 0 THEN NULL
        |   ELSE CAST(abs(CAST(x_a AS HUGEINT) * (n - n_a)
        |       - CAST(x - x_a AS HUGEINT) * n_a) AS DOUBLE)
        |     / CAST(CAST(n_a AS HUGEINT) * (n - n_a) AS DOUBLE)
        |  END AS t_obs FROM base),
        |tb AS (SELECT rep.grp, rep.r,
        |  CASE WHEN cb = 0 OR o.n - cb = 0 THEN NULL
        |   ELSE CAST(abs(CAST(sb AS HUGEINT) * (o.n - cb)
        |       - CAST(o.x - sb AS HUGEINT) * cb) AS DOUBLE)
        |     / CAST(CAST(cb AS HUGEINT) * (o.n - cb) AS DOUBLE)
        |  END AS t_b
        | FROM rep JOIN obs o ON rep.grp = o.grp),
        |pv AS (SELECT o.grp,
        |  CAST(CASE WHEN o.t_obs IS NULL THEN 65
        |   ELSE 1 + SUM(CASE WHEN t.t_b IS NULL OR t.t_b >= o.t_obs
        |     THEN 1 ELSE 0 END) END AS BIGINT) AS p_num
        | FROM obs o JOIN tb t ON t.grp = o.grp
        | GROUP BY o.grp, o.t_obs),
        |rk AS (SELECT grp, p_num,
        |  CAST(row_number() OVER (ORDER BY p_num, grp) AS BIGINT)
        |    AS holm_rank FROM pv),
        |kk AS (SELECT coalesce(MIN(CASE WHEN NOT (p_num * 10
        |      * ((SELECT count(*) FROM rk) - holm_rank + 1) <= 65)
        |    THEN holm_rank END) - 1,
        |   (SELECT count(*) FROM rk)) AS holm_k FROM rk)
        |SELECT r.grp, r.p_num, r.holm_rank,
        | r.holm_rank <= kk.holm_k AS reject
        |FROM rk r CROSS JOIN kk ORDER BY r.grp""".stripMargin,

    // Heaps replay: first-seen new-type counts, window prefix sums,
    // lnG grid points, the /n-first OLS clearing as a fixed IEEE tree
    "text_heaps_law" ->
      """WITH tok AS (SELECT doc_id,
        |  unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        | FROM documents),
        |tk AS (SELECT doc_id, token FROM tok WHERE token <> ''),
        |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks
        | FROM tk GROUP BY 1),
        |nt AS (SELECT fs AS doc_id, CAST(count(*) AS BIGINT)
        |   AS new_types
        | FROM (SELECT token, MIN(doc_id) AS fs FROM tk GROUP BY 1)
        | GROUP BY 1),
        |d AS (SELECT pd.doc_id, n_toks,
        |  coalesce(new_types, 0) AS new_types
        | FROM pd LEFT JOIN nt ON pd.doc_id = nt.doc_id),
        |c AS (SELECT doc_id,
        |  CAST(SUM(n_toks) OVER w AS BIGINT) AS cum_tokens,
        |  CAST(SUM(new_types) OVER w AS BIGINT) AS cum_types
        | FROM d WINDOW w AS (ORDER BY doc_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |p AS (SELECT
        |  CAST(floor(ln(CAST(cum_tokens AS DOUBLE)) * 1e12) AS BIGINT)
        |    AS x,
        |  CAST(floor(ln(CAST(cum_types AS DOUBLE)) * 1e12) AS BIGINT)
        |    AS y
        | FROM c WHERE cum_tokens >= 1 AND cum_types >= 1),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
        |  SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |  SUM(CAST(x AS HUGEINT) * x) AS sxx FROM p),
        |vt AS (SELECT CAST(MAX(cum_types) AS BIGINT) AS vocab,
        |  CAST(MAX(cum_tokens) AS BIGINT) AS tokens FROM c),
        |f AS (SELECT n,
        |  CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
        |    / 1e12 AS mx,
        |  CAST(CAST(sy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
        |    / 1e12 AS my,
        |  CAST(CAST(sxy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
        |    / 1e24 AS rxy,
        |  CAST(CAST(sxx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
        |    / 1e24 AS rxx
        | FROM s),
        |g AS (SELECT n, rxy - mx * my AS cov, rxx - mx * mx AS vx,
        |  mx, my FROM f)
        |SELECT n AS n_points,
        | CASE WHEN n >= 2 AND vx > CAST(0 AS DOUBLE)
        |  THEN cov / vx ELSE CAST('nan' AS DOUBLE) END AS beta,
        | CASE WHEN n >= 2 AND vx > CAST(0 AS DOUBLE)
        |  THEN my - cov / vx * mx ELSE CAST('nan' AS DOUBLE) END
        |   AS ln_k,
        | vocab, tokens
        |FROM g CROSS JOIN vt ORDER BY n_points""".stripMargin,

    // PSI replay: add-one smoothed bin shares, ln(p/q) as the exact
    // integer-operand difference lnG(a*N2) - lnG(b*N1) on the 1e-12
    // grid, total accumulated in pure HUGEINT and divided once (the
    // sum can pass 2^53 -> VARCHAR route for the decimal->double cast)
    "analytics_psi" ->
      """WITH ev AS (SELECT event_type AS bin,
        |  isodow(ts) <= 5 AS is_ref FROM events),
        |b AS (SELECT bin,
        |  CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT)
        |    AS c_ref,
        |  CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT)
        |    AS c_cur
        | FROM ev GROUP BY 1),
        |t AS (SELECT CAST(SUM(c_ref) AS BIGINT) AS n_ref,
        |  CAST(SUM(c_cur) AS BIGINT) AS n_cur,
        |  CAST(count(*) AS BIGINT) AS bb FROM b),
        |terms AS (SELECT bin, c_ref, c_cur,
        |  CAST(c_ref + 1 AS HUGEINT) * (n_cur + bb)
        |    - CAST(c_cur + 1 AS HUGEINT) * (n_ref + bb) AS num,
        |  CAST(floor(ln(CAST(CAST(c_ref + 1 AS HUGEINT)
        |      * (n_cur + bb) AS DOUBLE)) * 1e12) AS BIGINT)
        |   - CAST(floor(ln(CAST(CAST(c_cur + 1 AS HUGEINT)
        |      * (n_ref + bb) AS DOUBLE)) * 1e12) AS BIGINT) AS lng,
        |  CAST(n_ref + bb AS HUGEINT) * (n_cur + bb) AS den
        | FROM b CROSS JOIN t),
        |tot AS (SELECT CAST(CAST(SUM(num * lng) AS VARCHAR) AS DOUBLE)
        |   / CAST(max(den) AS DOUBLE) / 1e12 AS psi_total FROM terms)
        |SELECT bin, c_ref, c_cur,
        | CAST(lng AS DOUBLE) / 1e12 AS ln_ratio,
        | CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
        |   * (CAST(lng AS DOUBLE) / 1e12) AS psi_term,
        | psi_total
        |FROM terms CROSS JOIN tot ORDER BY bin""".stripMargin,

    // retrieval-metrics replay: the same BM25 block, binary labels,
    // exact-integer MRR/P/R, AP terms on the 1e-12 grid
    "retrieval_metrics" ->
      """WITH tok AS (SELECT doc_id,
        |  unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        | FROM documents),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        | FROM tok GROUP BY doc_id, token),
        |qtf AS (SELECT * FROM tf WHERE token IN ('hash','scan','filter')),
        |dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df
        | FROM qtf GROUP BY token),
        |dls AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
        | FROM tf GROUP BY doc_id),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(dl) AS BIGINT) AS total_len FROM dls),
        |sc AS (SELECT q.doc_id, q.token,
        |  ((CAST(st.n_docs - d.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
        |    / (CAST(d.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
        |  * (CAST(q.tf AS DOUBLE) * CAST(2.2 AS DOUBLE)
        |    / (CAST(q.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
        |      * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
        |        * (CAST(l.dl AS DOUBLE)
        |          / (CAST(st.total_len AS DOUBLE)
        |            / CAST(st.n_docs AS DOUBLE)))))) AS score
        | FROM qtf q JOIN dfq d ON q.token = d.token
        | JOIN dls l ON q.doc_id = l.doc_id CROSS JOIN st),
        |pv AS (SELECT doc_id,
        |  max(CASE WHEN token = 'hash' THEN score END) AS s1,
        |  max(CASE WHEN token = 'scan' THEN score END) AS s2,
        |  max(CASE WHEN token = 'filter' THEN score END) AS s3
        | FROM sc GROUP BY doc_id),
        |tot AS (SELECT doc_id,
        |  ((coalesce(s1, CAST(0 AS DOUBLE)) + coalesce(s2, CAST(0 AS DOUBLE)))
        |    + coalesce(s3, CAST(0 AS DOUBLE))) AS score
        | FROM pv),
        |ranked AS (SELECT doc_id, rank FROM (
        |  SELECT doc_id, CAST(row_number() OVER (
        |    ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
        |  FROM tot) WHERE rank <= 10),
        |rel AS (SELECT doc_id,
        |  CAST(count(DISTINCT token) AS INTEGER) >= 2 AS r FROM tok
        | WHERE token IN ('hash','scan','filter') GROUP BY 1),
        |jj AS (SELECT ranked.doc_id, rank,
        |  coalesce(r, FALSE) AS r FROM ranked
        | LEFT JOIN rel ON ranked.doc_id = rel.doc_id),
        |totals AS (SELECT CAST(SUM(CASE WHEN r THEN 1 ELSE 0 END)
        |  AS BIGINT) AS n_relevant FROM rel),
        |base AS (SELECT
        |  CAST(SUM(CASE WHEN r THEN 1 ELSE 0 END) AS BIGINT) AS hits,
        |  MIN(CASE WHEN r THEN rank END) AS first_rel FROM jj),
        |cum AS (SELECT a.rank AS rank, a.r AS r,
        |  CAST(SUM(CASE WHEN b.r THEN 1 ELSE 0 END) AS BIGINT)
        |    AS cum_rel
        | FROM jj a JOIN jj b ON b.rank <= a.rank GROUP BY 1, 2),
        |ap AS (SELECT coalesce(SUM(CASE WHEN r THEN
        |   CAST(CAST(cum_rel AS DOUBLE) / CAST(rank AS DOUBLE)
        |     AS DECIMAL(18,12)) END), CAST(0 AS DECIMAL(18,12)))
        |  AS ap_num FROM cum)
        |SELECT n_relevant, hits AS hits_10,
        | coalesce(CAST(1 AS DOUBLE) / CAST(first_rel AS DOUBLE),
        |   CAST(0 AS DOUBLE)) AS mrr,
        | CAST(hits AS DOUBLE) / CAST(10 AS DOUBLE) AS p_at_10,
        | CASE WHEN n_relevant > 0 THEN
        |   CAST(hits AS DOUBLE) / CAST(n_relevant AS DOUBLE)
        |  ELSE CAST('nan' AS DOUBLE) END AS recall_at_10,
        | CASE WHEN LEAST(n_relevant, 10) > 0 THEN
        |   CAST(CAST(ap_num AS VARCHAR) AS DOUBLE)
        |     / CAST(LEAST(n_relevant, 10) AS DOUBLE)
        |  ELSE CAST('nan' AS DOUBLE) END AS ap_10
        |FROM base CROSS JOIN totals CROSS JOIN ap
        |ORDER BY n_relevant""".stripMargin,

    // Page-Hinkley replay: adaptive-mean drift terms on the 1e-6
    // grid, exact decimal cumulative sum + running max
    "ts_page_hinkley" ->
      """WITH d AS (SELECT event_type AS grp, CAST(ts AS DATE) AS day,
        |  SUM(CAST(value AS DECIMAL(18,4))) AS x
        | FROM events GROUP BY 1, 2),
        |c AS (SELECT grp, day, x,
        |  CAST(count(*) OVER w AS BIGINT) AS t, SUM(x) OVER w AS s
        | FROM d WINDOW w AS (PARTITION BY grp ORDER BY day
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |tm AS (SELECT grp, day, x,
        |  CAST(CAST(CAST(x AS VARCHAR) AS DOUBLE)
        |    - CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(t AS DOUBLE)
        |    - CAST(0 AS DOUBLE) AS DECIMAL(38,6)) AS term
        | FROM c),
        |mm AS (SELECT grp, day, x, SUM(term) OVER w AS m
        | FROM tm WINDOW w AS (PARTITION BY grp ORDER BY day
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |mx AS (SELECT grp, day, x, m, MAX(m) OVER w AS m_max
        | FROM mm WINDOW w AS (PARTITION BY grp ORDER BY day
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT grp, day,
        | CAST(CAST(x AS VARCHAR) AS DOUBLE) AS x,
        | CAST(CAST(m AS VARCHAR) AS DOUBLE) AS m,
        | CAST(CAST(m_max - m AS VARCHAR) AS DOUBLE) AS ph,
        | CAST(CAST(m_max - m AS VARCHAR) AS DOUBLE)
        |   > CAST(500 AS DOUBLE) AS alarm
        |FROM mx ORDER BY grp, day""".stripMargin,

    // nDCG replay: the rrf oracle's BM25 block for the top-10, term-
    // coverage grades, 12-dp discount literals, exact decimal DCG,
    // count-derived IDCG, one IEEE division
    "retrieval_ndcg" ->
      """WITH tok AS (SELECT doc_id,
        |  unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        | FROM documents),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        | FROM tok GROUP BY doc_id, token),
        |qtf AS (SELECT * FROM tf WHERE token IN ('hash','scan','filter')),
        |dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df
        | FROM qtf GROUP BY token),
        |dls AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
        | FROM tf GROUP BY doc_id),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(dl) AS BIGINT) AS total_len FROM dls),
        |sc AS (SELECT q.doc_id, q.token,
        |  ((CAST(st.n_docs - d.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
        |    / (CAST(d.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
        |  * (CAST(q.tf AS DOUBLE) * CAST(2.2 AS DOUBLE)
        |    / (CAST(q.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
        |      * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
        |        * (CAST(l.dl AS DOUBLE)
        |          / (CAST(st.total_len AS DOUBLE)
        |            / CAST(st.n_docs AS DOUBLE)))))) AS score
        | FROM qtf q JOIN dfq d ON q.token = d.token
        | JOIN dls l ON q.doc_id = l.doc_id CROSS JOIN st),
        |pv AS (SELECT doc_id,
        |  max(CASE WHEN token = 'hash' THEN score END) AS s1,
        |  max(CASE WHEN token = 'scan' THEN score END) AS s2,
        |  max(CASE WHEN token = 'filter' THEN score END) AS s3
        | FROM sc GROUP BY doc_id),
        |tot AS (SELECT doc_id,
        |  ((coalesce(s1, CAST(0 AS DOUBLE)) + coalesce(s2, CAST(0 AS DOUBLE)))
        |    + coalesce(s3, CAST(0 AS DOUBLE))) AS score
        | FROM pv),
        |ranked AS (SELECT doc_id, rank FROM (
        |  SELECT doc_id, CAST(row_number() OVER (
        |    ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
        |  FROM tot) WHERE rank <= 10),
        |rel AS (SELECT doc_id,
        |  CAST(count(DISTINCT token) AS INTEGER) AS rel FROM tok
        | WHERE token IN ('hash','scan','filter') GROUP BY 1),
        |d1 AS (SELECT CAST(count(*) AS BIGINT) AS n_ranked,
        |  coalesce(SUM(CAST(CASE rel WHEN 3 THEN 7 WHEN 2 THEN 3 WHEN 1 THEN 1
        |    ELSE 0 END AS DECIMAL(20,0)) * CASE rank
        |   WHEN 1 THEN CAST('1.000000000000' AS DECIMAL(14,12))
        |   WHEN 2 THEN CAST('0.630929753571' AS DECIMAL(14,12))
        |   WHEN 3 THEN CAST('0.500000000000' AS DECIMAL(14,12))
        |   WHEN 4 THEN CAST('0.430676558073' AS DECIMAL(14,12))
        |   WHEN 5 THEN CAST('0.386852807235' AS DECIMAL(14,12))
        |   WHEN 6 THEN CAST('0.356207187108' AS DECIMAL(14,12))
        |   WHEN 7 THEN CAST('0.333333333333' AS DECIMAL(14,12))
        |   WHEN 8 THEN CAST('0.315464876786' AS DECIMAL(14,12))
        |   WHEN 9 THEN CAST('0.301029995664' AS DECIMAL(14,12))
        |   ELSE CAST('0.289064826318' AS DECIMAL(14,12)) END),
        |   CAST(0 AS DECIMAL(38,12))) AS dcg
        | FROM rel JOIN ranked USING (doc_id)),
        |cn AS (SELECT
        |  CAST(SUM(CASE WHEN rel = 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
        |  CAST(SUM(CASE WHEN rel = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
        |  CAST(SUM(CASE WHEN rel = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        | FROM rel),
        |sl AS (SELECT LEAST(c3, 10) AS a, LEAST(c3 + c2, 10) AS b,
        |  LEAST(c3 + c2 + c1, 10) AS c FROM cn),
        |wp AS (SELECT a, b, c FROM sl),
        |idcg AS (SELECT
        |  CAST(CAST(7 AS DECIMAL(20,0)) * (CASE a
        |    WHEN 0 THEN CAST('0.000000000000' AS DECIMAL(14,12))
        |    WHEN 1 THEN CAST('1.000000000000' AS DECIMAL(14,12))
        |    WHEN 2 THEN CAST('1.630929753571' AS DECIMAL(14,12))
        |    WHEN 3 THEN CAST('2.130929753571' AS DECIMAL(14,12))
        |    WHEN 4 THEN CAST('2.561606311644' AS DECIMAL(14,12))
        |    WHEN 5 THEN CAST('2.948459118879' AS DECIMAL(14,12))
        |    WHEN 6 THEN CAST('3.304666305987' AS DECIMAL(14,12))
        |    WHEN 7 THEN CAST('3.637999639320' AS DECIMAL(14,12))
        |    WHEN 8 THEN CAST('3.953464516106' AS DECIMAL(14,12))
        |    WHEN 9 THEN CAST('4.254494511770' AS DECIMAL(14,12))
        |    ELSE CAST('4.543559338088' AS DECIMAL(14,12)) END)
        |  + CAST(3 AS DECIMAL(20,0)) * ((CASE b
        |    WHEN 0 THEN CAST('0.000000000000' AS DECIMAL(14,12))
        |    WHEN 1 THEN CAST('1.000000000000' AS DECIMAL(14,12))
        |    WHEN 2 THEN CAST('1.630929753571' AS DECIMAL(14,12))
        |    WHEN 3 THEN CAST('2.130929753571' AS DECIMAL(14,12))
        |    WHEN 4 THEN CAST('2.561606311644' AS DECIMAL(14,12))
        |    WHEN 5 THEN CAST('2.948459118879' AS DECIMAL(14,12))
        |    WHEN 6 THEN CAST('3.304666305987' AS DECIMAL(14,12))
        |    WHEN 7 THEN CAST('3.637999639320' AS DECIMAL(14,12))
        |    WHEN 8 THEN CAST('3.953464516106' AS DECIMAL(14,12))
        |    WHEN 9 THEN CAST('4.254494511770' AS DECIMAL(14,12))
        |    ELSE CAST('4.543559338088' AS DECIMAL(14,12)) END) - (CASE a
        |    WHEN 0 THEN CAST('0.000000000000' AS DECIMAL(14,12))
        |    WHEN 1 THEN CAST('1.000000000000' AS DECIMAL(14,12))
        |    WHEN 2 THEN CAST('1.630929753571' AS DECIMAL(14,12))
        |    WHEN 3 THEN CAST('2.130929753571' AS DECIMAL(14,12))
        |    WHEN 4 THEN CAST('2.561606311644' AS DECIMAL(14,12))
        |    WHEN 5 THEN CAST('2.948459118879' AS DECIMAL(14,12))
        |    WHEN 6 THEN CAST('3.304666305987' AS DECIMAL(14,12))
        |    WHEN 7 THEN CAST('3.637999639320' AS DECIMAL(14,12))
        |    WHEN 8 THEN CAST('3.953464516106' AS DECIMAL(14,12))
        |    WHEN 9 THEN CAST('4.254494511770' AS DECIMAL(14,12))
        |    ELSE CAST('4.543559338088' AS DECIMAL(14,12)) END))
        |  + CAST(1 AS DECIMAL(20,0)) * ((CASE c
        |    WHEN 0 THEN CAST('0.000000000000' AS DECIMAL(14,12))
        |    WHEN 1 THEN CAST('1.000000000000' AS DECIMAL(14,12))
        |    WHEN 2 THEN CAST('1.630929753571' AS DECIMAL(14,12))
        |    WHEN 3 THEN CAST('2.130929753571' AS DECIMAL(14,12))
        |    WHEN 4 THEN CAST('2.561606311644' AS DECIMAL(14,12))
        |    WHEN 5 THEN CAST('2.948459118879' AS DECIMAL(14,12))
        |    WHEN 6 THEN CAST('3.304666305987' AS DECIMAL(14,12))
        |    WHEN 7 THEN CAST('3.637999639320' AS DECIMAL(14,12))
        |    WHEN 8 THEN CAST('3.953464516106' AS DECIMAL(14,12))
        |    WHEN 9 THEN CAST('4.254494511770' AS DECIMAL(14,12))
        |    ELSE CAST('4.543559338088' AS DECIMAL(14,12)) END) - (CASE b
        |    WHEN 0 THEN CAST('0.000000000000' AS DECIMAL(14,12))
        |    WHEN 1 THEN CAST('1.000000000000' AS DECIMAL(14,12))
        |    WHEN 2 THEN CAST('1.630929753571' AS DECIMAL(14,12))
        |    WHEN 3 THEN CAST('2.130929753571' AS DECIMAL(14,12))
        |    WHEN 4 THEN CAST('2.561606311644' AS DECIMAL(14,12))
        |    WHEN 5 THEN CAST('2.948459118879' AS DECIMAL(14,12))
        |    WHEN 6 THEN CAST('3.304666305987' AS DECIMAL(14,12))
        |    WHEN 7 THEN CAST('3.637999639320' AS DECIMAL(14,12))
        |    WHEN 8 THEN CAST('3.953464516106' AS DECIMAL(14,12))
        |    WHEN 9 THEN CAST('4.254494511770' AS DECIMAL(14,12))
        |    ELSE CAST('4.543559338088' AS DECIMAL(14,12)) END))
        |   AS DECIMAL(38,12)) AS idcg FROM wp)
        |SELECT n_ranked,
        | CAST(CAST(dcg AS VARCHAR) AS DOUBLE) AS dcg_10,
        | CAST(CAST(idcg AS VARCHAR) AS DOUBLE) AS idcg_10,
        | CASE WHEN idcg > 0 THEN
        |   CAST(CAST(dcg AS VARCHAR) AS DOUBLE)
        |     / CAST(CAST(idcg AS VARCHAR) AS DOUBLE)
        |  ELSE CAST('nan' AS DOUBLE) END AS ndcg_10
        |FROM d1 CROSS JOIN idcg ORDER BY n_ranked""".stripMargin,

    // QTE replay: quantile_cont per (grp, arm) — the pinned exact-
    // quantile pair — joined on grp, one IEEE subtraction per q
    "analytics_qte" ->
      """WITH ev AS (SELECT event_type AS grp,
        |  CAST(user_id % 2 AS INTEGER) AS arm, value FROM events
        | WHERE value IS NOT NULL),
        |per AS (SELECT grp, arm,
        |  quantile_cont(value, 0.25) AS q25,
        |  quantile_cont(value, 0.5) AS q50,
        |  quantile_cont(value, 0.75) AS q75
        | FROM ev GROUP BY 1, 2),
        |c AS (SELECT grp, q25 AS q25_control, q50 AS q50_control,
        |  q75 AS q75_control FROM per WHERE arm = 0),
        |t AS (SELECT grp, q25 AS q25_treat, q50 AS q50_treat,
        |  q75 AS q75_treat FROM per WHERE arm = 1)
        |SELECT c.grp, q25_control, q25_treat,
        | q25_treat - q25_control AS qte_25,
        | q50_control, q50_treat, q50_treat - q50_control AS qte_50,
        | q75_control, q75_treat, q75_treat - q75_control AS qte_75
        |FROM c JOIN t USING (grp) ORDER BY grp""".stripMargin,

    // weekly-spectrum replay: quantized 12-dp trig basis (string ->
    // decimal parse is parity-safe), exact decimal product sums, the
    // C/S clearing and the variance ratio as fixed IEEE trees
    "ts_weekly_spectrum" ->
      """WITH d AS (SELECT event_type AS grp, CAST(ts AS DATE) AS day,
        |  SUM(CAST(value AS DECIMAL(18,4))) AS x
        | FROM events GROUP BY 1, 2),
        |kd AS (SELECT grp, x,
        |  CAST((day - DATE '1970-01-01') % 7 AS INTEGER) AS k FROM d),
        |b AS (SELECT grp, x,
        |  CASE k
        |   WHEN 0 THEN CAST('1.000000000000' AS DECIMAL(14,12))
        |   WHEN 1 THEN CAST('0.623489801859' AS DECIMAL(14,12))
        |   WHEN 2 THEN CAST('-0.222520933956' AS DECIMAL(14,12))
        |   WHEN 3 THEN CAST('-0.900968867902' AS DECIMAL(14,12))
        |   WHEN 4 THEN CAST('-0.900968867902' AS DECIMAL(14,12))
        |   WHEN 5 THEN CAST('-0.222520933956' AS DECIMAL(14,12))
        |   ELSE CAST('0.623489801859' AS DECIMAL(14,12)) END AS c,
        |  CASE k
        |   WHEN 0 THEN CAST('0.000000000000' AS DECIMAL(14,12))
        |   WHEN 1 THEN CAST('0.781831482468' AS DECIMAL(14,12))
        |   WHEN 2 THEN CAST('0.974927912182' AS DECIMAL(14,12))
        |   WHEN 3 THEN CAST('0.433883739118' AS DECIMAL(14,12))
        |   WHEN 4 THEN CAST('-0.433883739118' AS DECIMAL(14,12))
        |   WHEN 5 THEN CAST('-0.974927912182' AS DECIMAL(14,12))
        |   ELSE CAST('-0.781831482468' AS DECIMAL(14,12)) END AS s
        | FROM kd),
        |g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_days,
        |  SUM(x) AS sx,
        |  SUM(CAST(CAST(x * x AS VARCHAR) AS DECIMAL(38,6))) AS sxx,
        |  SUM(CAST(CAST(x * c AS VARCHAR) AS DECIMAL(38,6))) AS sxc,
        |  SUM(CAST(CAST(x * s AS VARCHAR) AS DECIMAL(38,6))) AS sxs,
        |  SUM(c) AS scs, SUM(s) AS sss
        | FROM b GROUP BY 1),
        |f AS (SELECT grp, n_days,
        |  CAST(CAST(sxc AS VARCHAR) AS DOUBLE)
        |   - CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n_days AS DOUBLE)
        |     * CAST(CAST(scs AS VARCHAR) AS DOUBLE) AS c_week,
        |  CAST(CAST(sxs AS VARCHAR) AS DOUBLE)
        |   - CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n_days AS DOUBLE)
        |     * CAST(CAST(sss AS VARCHAR) AS DOUBLE) AS s_week,
        |  CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
        |   - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
        |     * CAST(CAST(sx AS VARCHAR) AS DOUBLE)
        |     / CAST(n_days AS DOUBLE) AS ss_total
        | FROM g),
        |w AS (SELECT grp, n_days, c_week, s_week,
        |  CAST(2 AS DOUBLE) * (c_week * c_week + s_week * s_week)
        |    / CAST(n_days AS DOUBLE) AS ss_weekly, ss_total
        | FROM f)
        |SELECT grp, n_days, c_week, s_week, ss_weekly, ss_total,
        | CASE WHEN ss_total > CAST(0 AS DOUBLE)
        |  THEN ss_weekly / ss_total ELSE CAST('nan' AS DOUBLE) END
        |   AS weekly_strength
        |FROM w ORDER BY grp""".stripMargin,

    // capture-recapture replay: per-unit presence flags, exact
    // HUGEINT products, Lincoln/Chapman/se as fixed IEEE trees
    "analytics_capture_recapture" ->
      """WITH per AS (SELECT event_type AS grp, user_id,
        |  CAST(MAX(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS ia,
        |  CAST(MAX(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS ib
        | FROM events GROUP BY 1, 2),
        |g AS (SELECT grp, CAST(SUM(ia) AS BIGINT) AS n1,
        |  CAST(SUM(ib) AS BIGINT) AS n2,
        |  CAST(SUM(ia * ib) AS BIGINT) AS m FROM per GROUP BY 1)
        |SELECT grp, n1, n2, m,
        | CASE WHEN m > 0 THEN
        |   CAST(CAST(n1 AS HUGEINT) * n2 AS DOUBLE) / CAST(m AS DOUBLE)
        |  ELSE CAST('nan' AS DOUBLE) END AS lincoln,
        | CAST(CAST(n1 + 1 AS HUGEINT) * (n2 + 1) AS DOUBLE)
        |   / CAST(m + 1 AS DOUBLE) - CAST(1 AS DOUBLE) AS chapman,
        | sqrt(CAST(CAST(n1 + 1 AS HUGEINT) * (n2 + 1) * (n1 - m)
        |      * (n2 - m) AS DOUBLE)
        |   / CAST(CAST(m + 1 AS HUGEINT) * (m + 1) * (m + 2)
        |      AS DOUBLE)) AS se
        |FROM g ORDER BY grp""".stripMargin,

    // odds-ratio replay: Haldane-Anscombe x2+1 integer cells, lnG
    // grid on exact HUGEINT products, the Wald interval as the same
    // fixed IEEE tree
    "analytics_odds_ratio" ->
      """WITH ev AS (SELECT event_type AS grp,
        |  CAST(user_id % 2 AS INTEGER) AS arm,
        |  CAST(CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS succ
        | FROM events WHERE value IS NOT NULL),
        |g AS (SELECT grp,
        |  CAST(SUM(CASE WHEN arm = 0 AND succ <> 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS a,
        |  CAST(SUM(CASE WHEN arm = 0 AND succ = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS b,
        |  CAST(SUM(CASE WHEN arm <> 0 AND succ <> 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS c,
        |  CAST(SUM(CASE WHEN arm <> 0 AND succ = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS d
        | FROM ev GROUP BY 1),
        |t AS (SELECT grp, a, b, c, d,
        |  CAST(2 * a + 1 AS HUGEINT) * (2 * d + 1) AS orn,
        |  CAST(2 * b + 1 AS HUGEINT) * (2 * c + 1) AS ord_,
        |  CAST(2 * a + 1 AS HUGEINT)
        |    * ((2 * c + 1) + (2 * d + 1)) AS rrn,
        |  CAST(2 * c + 1 AS HUGEINT)
        |    * ((2 * a + 1) + (2 * b + 1)) AS rrd
        | FROM g),
        |f AS (SELECT grp, a, b, c, d,
        |  CAST(orn AS DOUBLE) / CAST(ord_ AS DOUBLE) AS odds_ratio,
        |  CAST(rrn AS DOUBLE) / CAST(rrd AS DOUBLE) AS risk_ratio,
        |  CAST(CAST(floor(ln(CAST(orn AS DOUBLE)) * 1e12) AS BIGINT)
        |     - CAST(floor(ln(CAST(ord_ AS DOUBLE)) * 1e12) AS BIGINT)
        |    AS DOUBLE) / 1e12 AS ln_or,
        |  CAST(CAST(floor(ln(CAST(rrn AS DOUBLE)) * 1e12) AS BIGINT)
        |     - CAST(floor(ln(CAST(rrd AS DOUBLE)) * 1e12) AS BIGINT)
        |    AS DOUBLE) / 1e12 AS ln_rr,
        |  sqrt(CAST(2 AS DOUBLE) / CAST(2 * a + 1 AS DOUBLE)
        |    + CAST(2 AS DOUBLE) / CAST(2 * b + 1 AS DOUBLE)
        |    + CAST(2 AS DOUBLE) / CAST(2 * c + 1 AS DOUBLE)
        |    + CAST(2 AS DOUBLE) / CAST(2 * d + 1 AS DOUBLE))
        |   AS se_ln_or
        | FROM t),
        |w AS (SELECT grp, a, b, c, d, odds_ratio, risk_ratio, ln_or,
        |  ln_rr, se_ln_or,
        |  ln_or - CAST(1.959963984540054 AS DOUBLE) * se_ln_or AS ln_lo,
        |  ln_or + CAST(1.959963984540054 AS DOUBLE) * se_ln_or AS ln_hi
        | FROM f)
        |SELECT grp, a, b, c, d, odds_ratio, risk_ratio, ln_or, ln_rr,
        | se_ln_or, ln_lo, ln_hi,
        | ln_lo > CAST(0 AS DOUBLE) OR ln_hi < CAST(0 AS DOUBLE)
        |   AS significant
        |FROM w ORDER BY grp""".stripMargin,

    // vocab-richness replay: the frequency-of-frequencies profile,
    // exact counts, two final IEEE divisions (f1 squares in HUGEINT)
    "text_vocab_richness" ->
      """WITH tok AS (SELECT
        |  unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        | FROM documents),
        |tf AS (SELECT token, CAST(count(*) AS BIGINT) AS tf
        | FROM tok WHERE token <> '' GROUP BY 1),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS vocab,
        |  CAST(SUM(tf) AS BIGINT) AS tokens,
        |  CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        |  CAST(SUM(CASE WHEN tf = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
        | FROM tf)
        |SELECT vocab, tokens, f1, f2,
        | CAST(vocab AS DOUBLE)
        |  + CAST(CAST(CAST(f1 AS HUGEINT) * (CAST(f1 AS HUGEINT) - 1)
        |      AS VARCHAR) AS DOUBLE)
        |    / CAST(2 * (f2 + 1) AS DOUBLE) AS chao1,
        | CAST(f1 AS DOUBLE) / CAST(tokens AS DOUBLE) AS unseen_mass
        |FROM s ORDER BY vocab""".stripMargin,

    // Cochran-Armitage replay: exact HUGEINT cross products for the
    // trend numerator and variance, square + single division in IEEE
    "analytics_trend_test" ->
      """WITH ev AS (SELECT event_type AS grp,
        |  CAST((CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS BIGINT)
        |    AS w,
        |  CAST(CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS succ
        | FROM events WHERE value IS NOT NULL),
        |cells AS (SELECT grp, w, CAST(count(*) AS BIGINT) AS n_i,
        |  CAST(SUM(succ) AS BIGINT) AS x_i FROM ev GROUP BY 1, 2),
        |g AS (SELECT grp, CAST(SUM(n_i) AS BIGINT) AS n,
        |  CAST(SUM(x_i) AS BIGINT) AS x,
        |  SUM(CAST(w AS HUGEINT) * x_i) AS swx,
        |  SUM(CAST(w AS HUGEINT) * n_i) AS swn,
        |  SUM(CAST(w AS HUGEINT) * CAST(w AS HUGEINT) * n_i) AS sw2n
        | FROM cells GROUP BY 1),
        |t AS (SELECT grp, n, x,
        |  CAST(n AS HUGEINT) * swx - CAST(x AS HUGEINT) * swn AS t_num,
        |  CAST(x AS HUGEINT) * (CAST(n AS HUGEINT) - x)
        |    * (CAST(n AS HUGEINT) * sw2n - swn * swn) AS denom
        | FROM g),
        |f AS (SELECT grp, n, x,
        |  CASE WHEN denom = 0 THEN CAST(0 AS DOUBLE)
        |   ELSE CAST(CAST(t_num AS VARCHAR) AS DOUBLE)
        |      * CAST(CAST(t_num AS VARCHAR) AS DOUBLE)
        |      * CAST(n AS DOUBLE)
        |      / CAST(CAST(denom AS VARCHAR) AS DOUBLE) END AS chi2,
        |  CASE WHEN t_num > 0 THEN 1 WHEN t_num < 0 THEN -1
        |   ELSE 0 END AS direction
        | FROM t)
        |SELECT grp, n, x, chi2,
        | chi2 > CAST(3.841458820694124 AS DOUBLE) AS trend, direction
        |FROM f ORDER BY grp""".stripMargin,

    // Kruskal-Wallis replay: the MW rank idiom generalized — tie
    // groups from one aggregation, closed-form midrank sums in
    // HUGEINT, per-group quadratic terms N-normalized then floored
    // onto the 1e-6 grid and summed exactly
    "analytics_kruskal_wallis" ->
      """WITH v AS (SELECT event_type AS grp,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cv
        | FROM events
        | WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |gv AS (SELECT grp, cv, CAST(count(*) AS BIGINT) AS njv
        | FROM v GROUP BY 1, 2),
        |vals AS (SELECT cv, CAST(SUM(njv) AS BIGINT) AS m
        | FROM gv GROUP BY 1),
        |w AS (SELECT cv, m,
        |  CAST(SUM(m) OVER (ORDER BY cv) AS BIGINT) - m AS prev
        | FROM vals),
        |pg AS (SELECT grp, CAST(SUM(njv) AS BIGINT) AS n_j,
        |  SUM(CAST(njv AS HUGEINT) * (2 * CAST(prev AS HUGEINT)
        |    + CAST(m AS HUGEINT) + 1)) AS r2j
        | FROM gv JOIN w USING (cv) GROUP BY 1),
        |nt AS (SELECT CAST(SUM(n_j) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS k FROM pg),
        |tot AS (SELECT n, k,
        |  SUM(CAST(floor(CAST(3 AS DOUBLE)
        |      * CAST(CAST(r2j AS VARCHAR) AS DOUBLE)
        |      * CAST(CAST(r2j AS VARCHAR) AS DOUBLE)
        |    / (CAST(n_j AS DOUBLE) * CAST(n AS DOUBLE)
        |       * (CAST(n AS DOUBLE) + CAST(1 AS DOUBLE)))
        |    * 1e6) AS HUGEINT)) AS s_grid
        | FROM pg CROSS JOIN nt GROUP BY 1, 2),
        |tie AS (SELECT SUM(CAST(m AS HUGEINT) * CAST(m AS HUGEINT)
        |    * CAST(m AS HUGEINT) - CAST(m AS HUGEINT)) AS t3t FROM w),
        |hh AS (SELECT
        |  CASE WHEN n > 1 AND CAST(1 AS DOUBLE)
        |      - CAST(CAST(t3t AS VARCHAR) AS DOUBLE)
        |        / CAST(CAST(CAST(n AS HUGEINT) * n * n - n AS VARCHAR)
        |           AS DOUBLE) > CAST(0 AS DOUBLE)
        |   THEN (CAST(CAST(s_grid AS VARCHAR) AS DOUBLE) / 1e6
        |      - CAST(3 AS DOUBLE) * (CAST(n AS DOUBLE)
        |         + CAST(1 AS DOUBLE)))
        |     / (CAST(1 AS DOUBLE)
        |        - CAST(CAST(t3t AS VARCHAR) AS DOUBLE)
        |          / CAST(CAST(CAST(n AS HUGEINT) * n * n - n AS VARCHAR)
        |             AS DOUBLE))
        |   ELSE CAST('nan' AS DOUBLE) END AS h,
        |  k - 1 AS dof FROM tot CROSS JOIN tie)
        |SELECT grp, n_j,
        | CAST(CAST(r2j AS VARCHAR) AS DOUBLE) / CAST(2 AS DOUBLE)
        |   AS rank_sum,
        | h, dof
        |FROM pg CROSS JOIN hh ORDER BY grp""".stripMargin,

    // JSD replay: the same smoothed bin shares as PSI; all three ln
    // classes on exact integer operands (1e-12 grid), totals as pure
    // HUGEINT sums divided by the fixed IEEE trees (VARCHAR-routed
    // decimal->double casts)
    "analytics_jsd" ->
      """WITH ev AS (SELECT event_type AS bin,
        |  isodow(ts) <= 5 AS is_ref FROM events),
        |b AS (SELECT bin,
        |  CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT)
        |    AS c_ref,
        |  CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT)
        |    AS c_cur
        | FROM ev GROUP BY 1),
        |t AS (SELECT CAST(SUM(c_ref) AS BIGINT) AS n_ref,
        |  CAST(SUM(c_cur) AS BIGINT) AS n_cur,
        |  CAST(count(*) AS BIGINT) AS bb FROM b),
        |terms AS (SELECT bin, c_ref, c_cur,
        |  CAST(c_ref + 1 AS HUGEINT) AS av,
        |  CAST(c_cur + 1 AS HUGEINT) AS bv,
        |  CAST(n_ref + bb AS HUGEINT) AS n1,
        |  CAST(n_cur + bb AS HUGEINT) AS n2,
        |  CAST(floor(ln(CAST(CAST(c_ref + 1 AS HUGEINT)
        |      * (n_cur + bb) AS DOUBLE)) * 1e12) AS BIGINT)
        |   - CAST(floor(ln(CAST(CAST(c_cur + 1 AS HUGEINT)
        |      * (n_ref + bb) AS DOUBLE)) * 1e12) AS BIGINT) AS lnpq,
        |  CAST(floor(ln(CAST(CAST(c_ref + 1 AS HUGEINT)
        |      * (n_cur + bb) * 2 AS DOUBLE)) * 1e12) AS BIGINT)
        |   - CAST(floor(ln(CAST(CAST(c_ref + 1 AS HUGEINT)
        |        * (n_cur + bb)
        |      + CAST(c_cur + 1 AS HUGEINT) * (n_ref + bb) AS DOUBLE))
        |      * 1e12) AS BIGINT) AS lnpm,
        |  CAST(floor(ln(CAST(CAST(c_cur + 1 AS HUGEINT)
        |      * (n_ref + bb) * 2 AS DOUBLE)) * 1e12) AS BIGINT)
        |   - CAST(floor(ln(CAST(CAST(c_ref + 1 AS HUGEINT)
        |        * (n_cur + bb)
        |      + CAST(c_cur + 1 AS HUGEINT) * (n_ref + bb) AS DOUBLE))
        |      * 1e12) AS BIGINT) AS lnqm
        | FROM b CROSS JOIN t),
        |tot AS (SELECT
        |  CAST(CAST(SUM(av * lnpq) AS VARCHAR) AS DOUBLE)
        |    / CAST(max(n1) AS DOUBLE) / 1e12 AS kl_pq,
        |  CAST(CAST(SUM(bv * (0 - lnpq)) AS VARCHAR) AS DOUBLE)
        |    / CAST(max(n2) AS DOUBLE) / 1e12 AS kl_qp,
        |  (CAST(CAST(SUM(av * lnpm) AS VARCHAR) AS DOUBLE)
        |     / CAST(max(n1) AS DOUBLE)
        |   + CAST(CAST(SUM(bv * lnqm) AS VARCHAR) AS DOUBLE)
        |     / CAST(max(n2) AS DOUBLE))
        |    / CAST(2 AS DOUBLE) / 1e12 AS jsd_total FROM terms)
        |SELECT bin, c_ref, c_cur,
        | (CAST(av AS DOUBLE) / CAST(n1 AS DOUBLE)
        |    * (CAST(lnpm AS DOUBLE) / 1e12)
        |  + CAST(bv AS DOUBLE) / CAST(n2 AS DOUBLE)
        |    * (CAST(lnqm AS DOUBLE) / 1e12)) / CAST(2 AS DOUBLE)
        |   AS jsd_term,
        | kl_pq, kl_qp, jsd_total
        |FROM terms CROSS JOIN tot ORDER BY bin""".stripMargin,

    // mSPRT replay: daily cumulative sufficient statistics, the
    // mixture ratio's ln pair on exact integer operands (1e-12 grid),
    // the quadratic term as the same fixed IEEE tree, running max in
    // the calendar-bounded window
    "analytics_msprt" ->
      """WITH ev AS (SELECT event_type AS grp, CAST(ts AS DATE) AS day,
        |  CAST(user_id % 2 AS INTEGER) AS arm,
        |  CAST(CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS succ FROM events),
        |daily AS (SELECT grp, day,
        |  CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS da,
        |  CAST(SUM(CASE WHEN arm = 0 THEN succ ELSE 0 END) AS BIGINT)
        |    AS dxa,
        |  CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS db,
        |  CAST(SUM(CASE WHEN arm = 1 THEN succ ELSE 0 END) AS BIGINT)
        |    AS dxb
        | FROM ev GROUP BY 1, 2),
        |cum AS (SELECT grp, day,
        |  CAST(SUM(da) OVER w AS BIGINT) AS n_a,
        |  CAST(SUM(dxa) OVER w AS BIGINT) AS x_a,
        |  CAST(SUM(db) OVER w AS BIGINT) AS n_b,
        |  CAST(SUM(dxb) OVER w AS BIGINT) AS x_b
        | FROM daily WINDOW w AS (PARTITION BY grp ORDER BY day
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |sc AS (SELECT grp, day, n_a, x_a, n_b, x_b,
        |  CASE WHEN n_a = 0 OR n_b = 0
        |    OR CAST(x_a + x_b AS HUGEINT)
        |       * (n_a + n_b - x_a - x_b) = 0 THEN CAST(0 AS DOUBLE)
        |  ELSE
        |   CAST(CAST(floor(ln(CAST(CAST(x_a + x_b AS HUGEINT)
        |        * (n_a + n_b - x_a - x_b) * 100 AS DOUBLE)) * 1e12)
        |       AS BIGINT)
        |     - CAST(floor(ln(CAST(CAST(x_a + x_b AS HUGEINT)
        |        * (n_a + n_b - x_a - x_b) * 100
        |        + CAST(n_a + n_b AS HUGEINT) * n_a * n_b AS DOUBLE))
        |        * 1e12) AS BIGINT) AS DOUBLE) / CAST(2e12 AS DOUBLE)
        |   + (CAST(CAST(x_a AS HUGEINT) * n_b
        |        - CAST(x_b AS HUGEINT) * n_a AS DOUBLE)
        |      / CAST(CAST(n_a AS HUGEINT) * n_b AS DOUBLE))
        |     * (CAST(CAST(x_a AS HUGEINT) * n_b
        |        - CAST(x_b AS HUGEINT) * n_a AS DOUBLE)
        |      / CAST(CAST(n_a AS HUGEINT) * n_b AS DOUBLE))
        |     * CAST(0.01 AS DOUBLE)
        |     / (CAST(2 AS DOUBLE)
        |        * (CAST(CAST(x_a + x_b AS HUGEINT)
        |            * (n_a + n_b - x_a - x_b) AS DOUBLE)
        |           / CAST(CAST(n_a + n_b AS HUGEINT) * n_a * n_b
        |              AS DOUBLE))
        |        * (CAST(CAST(x_a + x_b AS HUGEINT)
        |            * (n_a + n_b - x_a - x_b) AS DOUBLE)
        |           / CAST(CAST(n_a + n_b AS HUGEINT) * n_a * n_b
        |              AS DOUBLE) + CAST(0.01 AS DOUBLE)))
        |  END AS log_lambda
        | FROM cum),
        |fin AS (SELECT grp, day, n_a, x_a, n_b, x_b, log_lambda,
        |  CASE WHEN MAX(log_lambda) OVER w > CAST(0 AS DOUBLE)
        |   THEN -MAX(log_lambda) OVER w ELSE CAST(0 AS DOUBLE)
        |  END AS log_p
        | FROM sc WINDOW w AS (PARTITION BY grp ORDER BY day
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT grp, day, n_a, x_a, n_b, x_b, log_lambda, log_p,
        | log_p <= CAST(-2.995732273553991 AS DOUBLE) AS significant
        |FROM fin ORDER BY grp, day""".stripMargin,

    // SRM replay: the cleared single-cross-product chi-square
    // d^2 / (n*ra*rb) with d = n_a*(ra+rb) - n*ra, one IEEE division
    "analytics_srm" ->
      """WITH ev AS (SELECT event_type AS grp,
        |  CAST(user_id % 2 AS INTEGER) AS arm FROM events),
        |g AS (SELECT grp,
        |  CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_a,
        |  CAST(SUM(CASE WHEN arm = 0 THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_b
        | FROM ev GROUP BY 1),
        |c AS (SELECT grp, n_a, n_b,
        |  CAST((CAST(n_a AS HUGEINT) * 2
        |      - CAST(n_a + n_b AS HUGEINT) * 1)
        |    * (CAST(n_a AS HUGEINT) * 2
        |      - CAST(n_a + n_b AS HUGEINT) * 1) AS DOUBLE)
        |   / CAST(CAST(n_a + n_b AS HUGEINT) * 1 * 1 AS DOUBLE)
        |    AS chi2
        | FROM g)
        |SELECT grp, n_a, n_b, chi2,
        | chi2 > CAST(3.841458820694124 AS DOUBLE) AS srm
        |FROM c ORDER BY grp""".stripMargin,

    // beta-binomial EB: method-of-moments prior over the k rates
    // (dsum-quantized moment sums), posterior mean per group
    "analytics_eb_rates" ->
      """WITH g AS (SELECT o_orderpriority AS grp,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS x
        | FROM orders GROUP BY 1),
        |p AS (SELECT grp, n, x,
        |  CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS p FROM g),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |  CAST(CAST(SUM(CAST(CAST(p AS VARCHAR) AS DECIMAL(38,18)))
        |    AS VARCHAR) AS DOUBLE) AS sp,
        |  CAST(CAST(SUM(CAST(CAST(p * p AS VARCHAR) AS DECIMAL(38,18)))
        |    AS VARCHAR) AS DOUBLE) AS spp FROM p),
        |w AS (SELECT p.grp, p.n, p.x, p.p,
        |  sp / CAST(k AS DOUBLE) AS m,
        |  (spp - sp * sp / CAST(k AS DOUBLE)) / CAST(k - 1 AS DOUBLE)
        |    AS v
        | FROM p CROSS JOIN t),
        |s AS (SELECT *, COALESCE(greatest(CAST(0 AS DOUBLE),
        |  m * (CAST(1 AS DOUBLE) - m)
        |    / nullif(v, CAST(0 AS DOUBLE)) - CAST(1 AS DOUBLE)),
        |  CAST(0 AS DOUBLE)) AS s0 FROM w)
        |SELECT grp, n, x, p AS rate,
        | (m * s0 + CAST(x AS DOUBLE)) / (s0 + CAST(n AS DOUBLE))
        |   AS shrunk_rate
        |FROM s ORDER BY grp""".stripMargin,

    // KS two-sample: the ECDF supremum cleared to exact integers —
    // max |cum1·n2 − cum2·n1| — one final division
    "analytics_ks_test" ->
      """WITH v AS (SELECT event_type AS arm,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cv
        | FROM events WHERE event_type IN ('view', 'click')
        |  AND value IS NOT NULL),
        |g AS (SELECT cv,
        |  CAST(count(*) FILTER (arm = 'view') AS BIGINT) AS c1,
        |  CAST(count(*) FILTER (arm = 'click') AS BIGINT) AS c2
        | FROM v GROUP BY cv),
        |w AS (SELECT CAST(SUM(c1) OVER (ORDER BY cv) AS BIGINT) AS cum1,
        |  CAST(SUM(c2) OVER (ORDER BY cv) AS BIGINT) AS cum2 FROM g),
        |t AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
        |  CAST(SUM(c2) AS BIGINT) AS n2 FROM g),
        |d AS (SELECT max(abs(CAST(cum1 AS HUGEINT) * t.n2
        |  - CAST(cum2 AS HUGEINT) * t.n1)) AS d_num
        | FROM w CROSS JOIN t)
        |SELECT t.n1, t.n2, CAST(d.d_num AS BIGINT) AS d_num,
        | CAST(CAST(d.d_num AS VARCHAR) AS DOUBLE)
        |  / (CAST(t.n1 AS DOUBLE) * CAST(t.n2 AS DOUBLE)) AS d_stat
        |FROM t CROSS JOIN d""".stripMargin,

    // χ²: full grid including zero cells; e and the term are the only
    // floating-point steps, mirrored token-for-token
    "analytics_chi_square" ->
      """WITH c AS (SELECT event_type AS a,
        |  CAST((CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS BIGINT)
        |    AS b,
        |  CAST(count(*) AS BIGINT) AS o FROM events GROUP BY 1, 2),
        |rt AS (SELECT a, CAST(SUM(o) AS BIGINT) AS row_n
        | FROM c GROUP BY 1),
        |ct AS (SELECT b, CAST(SUM(o) AS BIGINT) AS col_n
        | FROM c GROUP BY 1),
        |n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM c),
        |g AS (SELECT rt.a, ct.b, rt.row_n, ct.col_n, n.n,
        |  COALESCE(c.o, 0) AS o
        | FROM rt CROSS JOIN ct CROSS JOIN n
        | LEFT JOIN c ON rt.a = c.a AND ct.b = c.b),
        |f AS (SELECT a, b, o, row_n, col_n,
        | CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
        |  / CAST(n AS DOUBLE) AS e FROM g)
        |SELECT a, b, o, row_n, col_n, e,
        | (CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e
        |  AS chi2_term
        |FROM f ORDER BY a, b""".stripMargin,

    // same cell CTEs; per-cell terms quantized to 1e-9 fixed point
    // before summing, so the reduction order cannot drift the hash
    "analytics_cramers_v" ->
      """WITH c AS (SELECT event_type AS a,
        |  CAST((CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS BIGINT)
        |    AS b,
        |  CAST(count(*) AS BIGINT) AS o FROM events GROUP BY 1, 2),
        |rt AS (SELECT a, CAST(SUM(o) AS BIGINT) AS row_n
        | FROM c GROUP BY 1),
        |ct AS (SELECT b, CAST(SUM(o) AS BIGINT) AS col_n
        | FROM c GROUP BY 1),
        |n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM c),
        |g AS (SELECT rt.a, ct.b, rt.row_n, ct.col_n, n.n,
        |  COALESCE(c.o, 0) AS o
        | FROM rt CROSS JOIN ct CROSS JOIN n
        | LEFT JOIN c ON rt.a = c.a AND ct.b = c.b),
        |f AS (SELECT a, b, o, row_n, col_n,
        | CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
        |  / CAST(n AS DOUBLE) AS e FROM g),
        |terms AS (SELECT a, b, o,
        | (CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e
        |  AS chi2_term FROM f),
        |s AS (SELECT CAST(SUM(o) AS BIGINT) AS n_obs,
        | CAST(count(DISTINCT a) AS BIGINT) AS n_rows,
        | CAST(count(DISTINCT b) AS BIGINT) AS n_cols,
        | CAST(SUM(CAST(floor(chi2_term * 1e9) AS BIGINT)) AS BIGINT)
        |   AS fp
        | FROM terms)
        |SELECT n_obs, n_rows, n_cols,
        | CAST(fp AS DOUBLE) / 1e9 AS chi2,
        | sqrt((CAST(fp AS DOUBLE) / 1e9) / (CAST(n_obs AS DOUBLE) *
        |  CAST(least(n_rows - 1, n_cols - 1) AS DOUBLE))) AS cramers_v
        |FROM s""".stripMargin
  )
}
