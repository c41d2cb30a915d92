package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.{BillingConfig, Status}

/** The reference's relational surface (SURVEY §2) as small composable
  * DataFrame transformations. Each function is a lazy plan fragment —
  * Catalyst fuses, pushes predicates to the parquet scan, prunes columns,
  * and picks broadcast joins; nothing here materializes.
  *
  * Scale notes (100 TB): every function keeps filters and projections
  * declarative so they reach the scan; the one join (J1) broadcasts its
  * aggregated (small) side; the latest-wins view partitions by the state
  * key so the window shuffle is the minimal one.
  */
object BillingOps {

  val ShopSuffix = ".myshopify.com"

  // ---- key normalization (P2 / X9) ------------------------------------
  // Join-key normalization is part of join semantics (SURVEY §2.3, J1
  // note): events store suffixed shops, sessions bare domains, and the
  // external sink re-appends the suffix. Both directions live here so
  // every operator shares one definition.

  /** P2: strip the `.myshopify.com` suffix (reference
    * `src/services/bigquery.ts:44`). Idempotent. */
  def normalizeShop(c: Column): Column =
    regexp_replace(c, "\\.myshopify\\.com$", "")

  /** X9: ensure the suffix at the API edge (reference
    * `src/services/shopifyBilling.ts:239-242`). Idempotent. */
  def ensureShopSuffix(c: Column): Column =
    when(c.contains(ShopSuffix), c).otherwise(concat(c, lit(ShopSuffix)))

  // ---- scans ----------------------------------------------------------

  /** S1 + P1 + F1: active sessions — project/rename, drop null/empty
    * credentials, derive `session_id = shop` (reference
    * `src/services/bigquery.ts:19-39`). Expects the physical layout of
    * `Schemas.rawSessions` (camelCase timestamps). */
  def activeSessions(raw: DataFrame): DataFrame =
    raw.select(
        col("shop"),
        col("accessToken"),
        col("createdAt").as("created_at"),
        col("updatedAt").as("updated_at"))
      .where(col("accessToken").isNotNull && col("accessToken") =!= "" &&
             col("shop").isNotNull && col("shop") =!= "")
      .withColumn("session_id", col("shop"))

  /** S2 + F2 + P2 + X1 + A1: page views per shop for one business date
    * (reference `src/services/bigquery.ts:41-56`). The aggregation is a
    * partial+final hash agg; the date and name predicates reach the scan
    * (partition pruning when the event log is date-partitioned). */
  def pageViewsForDate(events: DataFrame, targetDate: String,
      eventName: String = "page_viewed"): DataFrame =
    events
      .where(col("name") === eventName &&
             to_date(col("created_at")) === to_date(lit(targetDate)) &&
             col("shop").isNotNull && col("shop") =!= "")
      .groupBy(normalizeShop(col("shop")).as("shop"))
      .agg(count(lit(1)).as("event_count"))

  // ---- charge math (X6) -----------------------------------------------

  /** X6: `$rate per 1M views`, 2-dp half-up rounding (reference
    * `src/services/billing.ts:276-280`). JS `Math.round` and Spark
    * `round` agree on the non-negative domain of this pipeline. */
  def chargeAmount(views: Column, ratePerMillion: Double): Column =
    round(views / 1e6 * lit(ratePerMillion), 2)

  /** X6, DECIMAL(12,2) variant (SURVEY §1.2's may-offer): the same
    * charge behind an exact money type for consumers that reconcile
    * ledgers, where binary doubles cannot represent $0.10. The double
    * path stays the DEFAULT for hash-parity with the reference's
    * float money.
    *
    * Exactness: the per-view rate is derived DRIVER-side by parsing
    * the rate's decimal string and shifting the point six places — no
    * decimal division in the plan, so the product
    * `views(14,0) × perView(22,16) → (37,16)` is exact within
    * Spark's 38-digit cap, then ONE half-up rounding to 2 dp (the
    * decimal cast), exactly `Math.round`'s behavior on this
    * non-negative domain. Domain: views < 10^14 and amounts < 10^10
    * (the DECIMAL(12,2) range) — far beyond any daily per-shop count;
    * rates keep 16 per-view decimals (= 10 decimals of the per-million
    * rate), which covers every 2-dp money rate exactly. */
  def chargeAmountDecimal(views: Column, ratePerMillion: Double): Column = {
    import org.apache.spark.sql.types.DecimalType
    val perView = new java.math.BigDecimal(ratePerMillion.toString)
      .movePointLeft(6)
    (views.cast(DecimalType(14, 0)) *
      lit(perView).cast(DecimalType(22, 16)))
      .cast(DecimalType(12, 2)) // decimal cast rounds HALF_UP
  }

  // ---- joins ----------------------------------------------------------

  /** J1 + X6: sessions ⟕ pageViews on shop, missing key → 0 views
    * (reference `src/services/billing.ts:249-280`), one row per session.
    * The aggregated page-view side is orders of magnitude smaller than
    * the event log, so it is broadcast explicitly — at 100 TB of events
    * the per-shop daily aggregate is still ≤ number-of-shops rows. The
    * session columns named in `carry` ride along after the record's own
    * (the batch carries `accessToken` to its charge inputs, J2). */
  def billingRecords(sessions: DataFrame, pageViews: DataFrame,
      targetDate: String, cfg: BillingConfig = BillingConfig(),
      carry: Seq[String] = Nil): DataFrame =
    sessions.select(normalizeShop(col("shop")).as("shop") +:
        carry.map(col): _*)
      .join(broadcast(pageViews), Seq("shop"), "left_outer")
      .withColumn("page_views", coalesce(col("event_count"), lit(0L)))
      .select(Seq(
        col("shop"),
        to_date(lit(targetDate)).as("billing_date"),
        col("page_views"),
        chargeAmount(col("page_views"), cfg.ratePerMillion)
          .as("billing_amount"),
        lit(cfg.ratePerMillion).as("rate_per_million")) ++
        carry.map(col): _*)

  /** status ← pending (reference `src/services/billing.ts:85-88`). */
  def withPendingStatus(records: DataFrame): DataFrame =
    records.withColumns(ListMap(
      "shopify_charge_id" -> lit(null).cast("string"),
      "shopify_billing_status" -> lit(Status.Pending),
      "shopify_error_message" -> lit(null).cast("string"),
      "shopify_processed_at" -> lit(null).cast("timestamp")))

  /** J3: enrich billing records with charge outcomes — left join on shop,
    * unmatched records keep their prior status (reference
    * `src/services/billing.ts:133-149`; the reference's O(n·m)
    * nested-loop `find` becomes a broadcast hash join). Expects `results`
    * columns: shop, success, chargeId, error, skipped.
    *
    * The reference's `find` gives each record ONE outcome, the first
    * match. Two sessions that normalize to one shop leave two outcomes
    * for it, so the outcomes collapse to one per shop first — the least
    * (status, charge id, error), a success before a failure before a
    * skip — or each record would meet each outcome. The collapse runs
    * in one partition (the outcomes are the broadcast side), so it
    * adds no shuffle. */
  def enrichWithChargeResults(records: DataFrame,
      results: DataFrame): DataFrame = {
    val outcome = struct(
      when(col("success") && !col("skipped"), 0)
        .when(col("skipped"), 2).otherwise(1).as("rank"),
      col("chargeId").as("charge_id"),
      col("error").as("charge_error"),
      when(col("skipped"), Status.Skipped)
        .when(col("success"), Status.Success)
        .otherwise(Status.Failed).as("charge_status"))
    val r = broadcast(results.coalesce(1).groupBy(col("shop"))
      .agg(min(outcome).as("o"))
      .select(col("shop"), col("o.charge_status"), col("o.charge_id"),
        col("o.charge_error")))
    records.join(r, Seq("shop"), "left_outer")
      .withColumns(ListMap(
        "shopify_billing_status" ->
          coalesce(col("charge_status"), col("shopify_billing_status")),
        "shopify_charge_id" ->
          coalesce(col("charge_id"), col("shopify_charge_id")),
        "shopify_error_message" ->
          coalesce(col("charge_error"), col("shopify_error_message")),
        "shopify_processed_at" ->
          when(col("charge_status").isNotNull, current_timestamp())
            .otherwise(col("shopify_processed_at"))))
      .drop("charge_status", "charge_id", "charge_error")
  }

  // ---- state view (A5) ------------------------------------------------

  /** A5: latest-record-wins view over the append-only `usage_records` log
    * (implied by the reference's append-instead-of-UPDATE pattern,
    * `src/services/billing.ts:161-163`). Every read of CURRENT billing
    * status must go through this. Ties on `created_at` break on status
    * rank so a re-read is deterministic. */
  def latestUsageState(records: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("shop"), col("billing_date"))
      .orderBy(col("created_at").desc,
        // deterministic tiebreak: TOTAL lifecycle order (pending <
        // failed < skipped < success) so equal-created_at re-reads are
        // stable for every status pair, with a final raw-string break
        // for statuses outside the lifecycle
        when(col("shopify_billing_status") === Status.Pending, 0)
          .when(col("shopify_billing_status") === Status.Failed, 1)
          .when(col("shopify_billing_status") === Status.Skipped, 2)
          .when(col("shopify_billing_status") === Status.Success, 3)
          .otherwise(-1).desc,
        col("shopify_billing_status").desc)
    records.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  // ---- split / union (F5) ---------------------------------------------

  /** F5: route zero-amount rows to a `skipped` branch and re-union
    * (reference `src/services/shopifyBilling.ts:68-74`). Returned frame
    * carries a `charge_route` column ∈ {charge, skipped}. */
  def splitBySkip(records: DataFrame,
      amountCol: String = "billing_amount"): DataFrame =
    records.withColumn("charge_route",
      when(col(amountCol) <= 0.0, Status.Skipped).otherwise("charge"))

  // ---- summaries (A2 / A3 / A4) ---------------------------------------

  /** A2 + A3: one-pass global totals (reference
    * `src/services/billing.ts:170-176,182-185`). */
  def totals(records: DataFrame): DataFrame =
    records.agg(totalsColumns.head, totalsColumns.tail: _*)

  /** [[totals]]' aggregate columns, for callers that observe them on
    * another action instead of running their own. */
  val totalsColumns: Seq[Column] = Seq(
    count(lit(1)).as("record_count"),
    sum(col("page_views")).as("total_page_views"),
    round(sum(col("billing_amount")), 2).as("total_billing_amount"))

  /** A4: status histogram as a single-pass conditional aggregation
    * (reference `src/services/shopifyBilling.ts:82-86`) — one shuffle-free
    * scan instead of three filtered counts. */
  def statusHistogram(results: DataFrame,
      statusCol: String = "shopify_billing_status"): DataFrame =
    results.agg(
      sum(when(col(statusCol) === Status.Success, 1).otherwise(0))
        .as("successful"),
      sum(when(col(statusCol) === Status.Failed, 1).otherwise(0))
        .as("failed"),
      sum(when(col(statusCol) === Status.Skipped, 1).otherwise(0))
        .as("skipped"))

  // ---- report shaping (F4 / L2) ---------------------------------------

  /** F4 + L2: shops with activity, top-N by amount (deterministic order —
    * the reference shows scan order, SURVEY §2.6 L1 note), plus the
    * remainder handled by the caller via `count`. Catalyst plans this as
    * `TakeOrderedAndProject` — no global sort at scale. */
  def topShops(records: DataFrame, n: Int = 10): DataFrame =
    records.where(col("page_views") > 0)
      .orderBy(col("billing_amount").desc, col("shop").asc)
      .limit(n)

  // ---- business-date handling (X5) ------------------------------------

  /** X5: JST business date = UTC instant shifted to Asia/Tokyo, minus one
    * day (reference `src/services/billing.ts:242-247`). Computed once on
    * the driver. */
  def jstYesterday(nowUtcMillis: Long): String = {
    val jst = java.time.Instant.ofEpochMilli(nowUtcMillis)
      .atZone(java.time.ZoneId.of("Asia/Tokyo")).toLocalDate.minusDays(1)
    jst.toString
  }

  /** X8: UTC "today" — the dry-run default date (reference
    * `src/index.ts:79`, `new Date().toISOString().split('T')[0]`). The
    * reference deliberately mixes the two clocks: the production batch
    * bills for JST-yesterday, the dry run defaults to UTC-today — both
    * helpers live here so the engine owns both calendars and their
    * divergence window (JST = UTC+9: during 00:00–15:00 UTC the dry-run
    * default is one day AFTER the production billing date; during
    * 15:00–24:00 UTC the two coincide). */
  def utcToday(nowUtcMillis: Long): String =
    java.time.Instant.ofEpochMilli(nowUtcMillis)
      .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString
}
