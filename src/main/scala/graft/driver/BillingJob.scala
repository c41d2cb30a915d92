package graft.driver

import org.apache.spark.sql.{Column, DataFrame, Observation, Row,
  SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{AppendStore, LogStore}
import graft.model._
import graft.operators.BillingOps
import graft.sinks._

/** End-to-end orchestration of the daily billing batch — the Spark
  * re-expression of the reference's `BillingService`
  * (`/root/reference/src/services/billing.ts:26-240,282-326`).
  *
  * The whole relational middle (scan → filter → agg → join → derive) is
  * ONE lazy plan; actions happen only at the explicitly-ordered effect
  * points, preserving the reference's write-ahead invariant:
  *
  *   1. guard: zero sessions → skipped result, nothing written
  *   2. append PENDING records (write-ahead intent log) — a failure here
  *      aborts BEFORE any external charge (`billing.ts:120-121`)
  *   3. external charge sink (`concurrency` calls in flight, retried),
  *      whose one action is the append into the charge-results store;
  *      that append also observes the ok/failed/skipped histogram
  *   4. append FINAL records — append-only, never UPDATE
  *      (`billing.ts:161-163`); current state = latest-record-wins view.
  *      The append observes the report's totals and active-shop count
  *   5. report: the figures observed in 3 and 4, plus one top-N job
  */
final class BillingJob(
    spark: SparkSession,
    usageStore: AppendStore,
    chargeSink: ChargeSink,
    reportSink: ReportSink = new StdoutReportSink,
    cfg: BillingConfig = BillingConfig(),
    now: () => java.time.Instant = () => java.time.Instant.now(),
    chargeResultsStore: Option[AppendStore] = None) {

  /** Charge outcomes persist beside the usage log: the effectful plan's
    * ONLY action is the append into this store, and every later
    * consumer (enrich join, report totals) re-reads the persisted
    * outcome instead of re-running the sink — removing the old
    * driver-side `collect()` whose row count ceiling was the active-
    * shop cardinality. */
  private val chargeResults: AppendStore = chargeResultsStore.getOrElse(
    // partitioned by run id: the store accumulates every run's
    // outcomes, and each batch reads back only its own — with the
    // partition column the `run_id = …` filter prunes to one
    // directory instead of scanning the history
    new AppendStore(spark, usageStore.path + "__charge_results",
      partitionCol = Some("run_id")))

  import spark.implicits._

  /** §3.1: the production daily run. */
  def processDailyBilling(rawSessions: DataFrame, rawEvents: DataFrame,
      targetDate: String, scheduled: Boolean = false): BatchReport = {
    // the day's caches are released whether the day succeeds or throws
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def cache(df: DataFrame): DataFrame = { cached += df.cache(); df }
    try {
      val sessions = cache(BillingOps.activeSessions(rawSessions))
      val sessionCount = sessions.count()
      if (sessionCount == 0) { // early-exit guard (billing.ts:56-69)
        val report = emptyReport(targetDate, scheduled,
          error = Some("No active sessions found"))
        reportSink.send(report)
        return report
      }

      val pageViews = BillingOps.pageViewsForDate(rawEvents, targetDate)
      val records =
        BillingOps.billingRecords(sessions, pageViews, targetDate, cfg)
      val pending = cache(BillingOps.withPendingStatus(records))

      // 2. write-ahead: pending rows land before any charge is attempted
      usageStore.append(pending)

      // 3. charge — J2 folded in: (shop, accessToken, amount) travel
      // together so the sink needs no map probe. The side-effecting plan
      // runs EXACTLY ONCE, store-mediated: its single action is the
      // append into the charge-results store below — a lazily-cached
      // Dataset could re-run its partitions (task retry, cache eviction
      // between the appends and a later action) and double-charge shops,
      // where the reference charges each shop exactly once imperatively
      // (`billing.ts:128-160`). Enrichment and reporting then JOIN
      // against the persisted outcome (a fresh parquet scan, incapable
      // of re-invoking the sink), so no charge row ever funnels through
      // the driver — at 100× shop cardinality the old `collect()`
      // ceiling disappears while write-ahead ordering (pending append →
      // charges → final append) and per-shop idempotency keys are
      // unchanged. Task retries WITHIN the append are absorbed by the
      // idempotency key, exactly as before.
      val chargeInputs = pending
        .join(sessions.select(BillingOps.normalizeShop($"shop").as("shop"),
          $"accessToken"), Seq("shop"))
        .select($"shop", $"accessToken", $"billing_amount".as("amount"),
          concat($"shop", lit(s":$targetDate")).as("idempotencyKey"))
        .as[ChargeInput]
      // epoch-millis alone could collide for two same-date runs inside
      // one millisecond (re-run storms in tests do this); the counter
      // makes the id unique per process, so each run's enrich join
      // reads exactly its own persisted outcomes
      val runId =
        s"$targetDate#${now().toEpochMilli}#${BillingJob.processToken}#" +
          s"${BillingJob.runSeq.incrementAndGet()}"
      val chargeOut = chargeSink.chargeAll(spark, chargeInputs)
        .toDF().withColumn("run_id", lit(runId))
      // the report's histogram rides on the append: the observed rows
      // are the rows written (a result stage), never a re-run sink
      val histogramObs = Observation()
      chargeResults.append(BillingJob.observed(chargeOut, histogramObs,
        BillingJob.histogramColumns))
      val results = chargeResults
        .readOrEmpty(chargeOut.schema)
        .where($"run_id" === runId)
        .drop("run_id", "created_at")

      // 4. append final statuses (J3 enrich; append-only)
      val enriched =
        cache(BillingOps.enrichWithChargeResults(pending, results))
      val totalsObs = Observation()
      usageStore.append(BillingJob.observed(enriched, totalsObs,
        BillingJob.totalsAndActiveColumns))

      // 5. report (A2/A3/A4, L2) — enriched is cached, so the top-shops
      // collect reads the materialization the final append made
      val report = buildReport(targetDate, scheduled, sessionCount,
        enriched, results, totalsObs, histogramObs)
      reportSink.send(report)
      report
    } catch {
      case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        // Per-shop context reconstruction (`billing.ts:195-215`): re-run
        // the dry scan→agg→join plan and surface every would-be billing
        // record as a skipped row carrying the batch error, so a failed
        // 3 a.m. run still tells the operator exactly which shops were
        // in flight. Reconstruction has its own guard — it must never
        // mask the original failure (`billing.ts:212-214`).
        // the report shows at most maxShopsToShow rows, so only that
        // many ever cross to the driver (TakeOrderedAndProject, not a
        // full-corpus collect); the remainder is a distributed count
        val (contextRows: Seq[ShopReportRow], contextRemainder: Long) =
          try {
            val active = testBillingForDate(rawSessions, rawEvents,
                targetDate)
              .where($"page_views" > 0)
            val activeCount = active.count()
            val rows = active
              .orderBy($"page_views".desc, $"shop".asc)
              .limit(BillingJob.maxShopsToShow)
              .select($"shop", $"page_views", $"billing_amount")
              .collect().toSeq
              .map(r => ShopReportRow(r.getString(0), r.getLong(1),
                r.getDouble(2), status = "skipped",
                storeError = Some(ReportOps.truncateError(msg)),
                chargeError = Some("Process failed before charge sink")))
            (rows, math.max(0L, activeCount - rows.size))
          } catch { case _: Throwable => (Nil, 0L) }
        val stack = {
          val sw = new java.io.StringWriter
          e.printStackTrace(new java.io.PrintWriter(sw))
          sw.toString
        }
        val report = emptyReport(targetDate, scheduled,
          error = Some(s"Process failed: ${ReportOps.truncateError(msg)}"))
          .copy(topShops = contextRows,
            remainderShops = contextRemainder,
            errorDetails = Some(ErrorDetails(msg, now().toString,
              Some(stack))))
        reportSink.send(report)
        report
    } finally cached.foreach(_.unpersist())
  }

  /** §3.2: the dry run — same read/join/aggregate plan, no writes, no
    * charges (reference `billing.ts:282-326`). Returns the billing
    * records frame; this is the oracle-comparison surface. */
  def testBillingForDate(rawSessions: DataFrame, rawEvents: DataFrame,
      targetDate: String): DataFrame = {
    val sessions = BillingOps.activeSessions(rawSessions)
    val pageViews = BillingOps.pageViewsForDate(rawEvents, targetDate)
    BillingOps.billingRecords(sessions, pageViews, targetDate, cfg)
  }

  /** §3.2 with the reference's default date: the dry run, when given no
    * explicit date, targets UTC-today (`index.ts:79`) — deliberately a
    * different calendar than the production batch's JST-yesterday. */
  def testBillingToday(rawSessions: DataFrame,
      rawEvents: DataFrame): DataFrame =
    testBillingForDate(rawSessions, rawEvents,
      BillingOps.utcToday(now().toEpochMilli))

  /** The day's report. Its figures were observed inside the two
    * appends — totals and the active-shop count on the final append of
    * `enriched`, the A4 histogram on the charge-results append — so
    * the only job here is the top-N collect. A figure whose
    * observation has not arrived after the wait is computed with the
    * same columns as one aggregate over the frame that was written:
    * `enriched`, or `results` (the persisted outcomes, never the sink
    * plan). */
  private def buildReport(targetDate: String, scheduled: Boolean,
      sessionCount: Long, enriched: DataFrame, results: DataFrame,
      totalsObs: Observation, histogramObs: Observation): BatchReport = {
    def figures(obs: Observation, frame: DataFrame, cols: Seq[Column]) =
      LogStore.awaitObservation(obs)
        .getOrElse(frame.agg(cols.head, cols.tail: _*).head())
    def long(r: Row, i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    // the top-N job runs first: meanwhile the listener bus delivers the
    // observations, so the wait below is rarely a wait
    val top = BillingOps.topShops(enriched, BillingJob.maxShopsToShow)
      .select($"shop", $"page_views", $"billing_amount",
        $"shopify_billing_status")
      .collect().toSeq.map(r => ShopReportRow(r.getString(0), r.getLong(1),
        r.getDouble(2), r.getString(3)))
    val t =
      figures(totalsObs, enriched, BillingJob.totalsAndActiveColumns)
    val h = figures(histogramObs, results, BillingJob.histogramColumns)
    val (ok, ko, skip) = (long(h, 0), long(h, 1), long(h, 2))
    val activeCount = long(t, 3)
    BatchReport(success = ko == 0, targetDate, scheduled, sessionCount,
      recordCount = t.getLong(0),
      totalPageViews = long(t, 1),
      totalBillingAmount = if (t.isNullAt(2)) 0.0 else t.getDouble(2),
      successful = ok, failed = ko, skipped = skip,
      topShops = top, remainderShops = math.max(0L,
        activeCount - BillingJob.maxShopsToShow),
      error = None)
  }

  private def emptyReport(targetDate: String, scheduled: Boolean,
      error: Option[String]): BatchReport =
    BatchReport(success = false, targetDate, scheduled, 0, 0, 0, 0.0,
      0, 0, 0, Nil, 0, error)
}

object BillingJob {
  /** Report detail cap (reference shows ≤10 shops; remainder is a
    * count line) — also the driver-side row bound on BOTH report
    * paths: happy (topShops) and failure (context reconstruction). */
  val maxShopsToShow: Int = 10

  /** The report's figures over `enriched`: [[BillingOps.totals]]'
    * record count, page views and rounded amount, then the active-shop
    * count. */
  private val totalsAndActiveColumns: Seq[Column] =
    BillingOps.totalsColumns :+
    count(when(col("page_views") > 0, true)).as("active_shops")

  /** A4 histogram over the charge outcomes (successful, failed,
    * skipped): three counters, never the rows. */
  private val histogramColumns: Seq[Column] = Seq(
    sum(when(col("success") && !col("skipped"), 1L).otherwise(0L))
      .as("successful"),
    sum(when(!col("success"), 1L).otherwise(0L)).as("failed"),
    sum(when(col("skipped"), 1L).otherwise(0L)).as("skipped"))

  private def observed(df: DataFrame, obs: Observation,
      cols: Seq[Column]): DataFrame = df.observe(obs, cols.head, cols.tail: _*)

  private val runSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  // per-process random token: two JVMs sharing one store path (parallel
  // test forks, concurrent backfill + scheduled run) can land in the
  // same epoch millisecond with the same counter value; the token keeps
  // their run ids disjoint so neither enrich join absorbs the other's
  // charge outcomes
  private val processToken: String =
    java.util.UUID.randomUUID().toString.take(8)
}
