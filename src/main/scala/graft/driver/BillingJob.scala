package graft.driver

import org.apache.spark.sql.{Column, DataFrame, Observation, Row,
  SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.AppendStore
import graft.model._
import graft.operators.{BillingOps, TopKAggregator}
import graft.sinks._

/** End-to-end orchestration of the daily billing batch — the Spark
  * re-expression of the reference's `BillingService`
  * (`/root/reference/src/services/billing.ts:26-240,282-326`).
  *
  * The whole relational middle (scan → filter → agg → join → derive) is
  * ONE lazy plan; actions happen only at the explicitly-ordered effect
  * points, preserving the reference's write-ahead invariant. Each runs
  * only the jobs its data work needs (7 on a small inline fixture):
  *
  *   1. guard: zero sessions → skipped result, nothing written. One
  *      `isEmpty` job.
  *   2. append PENDING records (write-ahead intent log) — a failure here
  *      aborts BEFORE any external charge (`billing.ts:120-121`). The
  *      page-view aggregate's shuffle stage, its broadcast and the
  *      write, which also builds the day's one cache (the pending rows
  *      with each session's `accessToken`, dropped from both usage
  *      appends) and observes the session count.
  *   3. external charge sink (`concurrency` calls in flight, retried),
  *      whose one action is the append into the charge-results store.
  *      One write job over the cache: the charge inputs are a
  *      projection of it, and the sink adds no shuffle. The append
  *      observes the ok/failed/skipped histogram; the run's outcomes are
  *      then read from their own partition at the schema written, which
  *      starts no job.
  *   4. append FINAL records — append-only, never UPDATE
  *      (`billing.ts:161-163`); current state = latest-record-wins view.
  *      The outcomes' broadcast and the write, which observes the
  *      report's totals, active-shop count and top shops.
  *   5. report: the figures observed in 2, 3 and 4; no job.
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
    * shop cardinality. The store is partitioned by `run_id` (a store
    * passed in must be too): it accumulates every run's outcomes, and
    * each batch reads back only its own directory instead of scanning
    * the history. */
  private val chargeResults: AppendStore = chargeResultsStore.getOrElse(
    new AppendStore(spark, usageStore.path + "__charge_results",
      partitionCol = Some("run_id")))

  import spark.implicits._

  /** §3.1: the production daily run. */
  def processDailyBilling(rawSessions: DataFrame, rawEvents: DataFrame,
      targetDate: String, scheduled: Boolean = false): BatchReport = {
    // the day's one cache is released whether the day succeeds or throws
    var cached: Option[DataFrame] = None
    try {
      val sessions = BillingOps.activeSessions(rawSessions)
      if (sessions.isEmpty) { // early-exit guard (billing.ts:56-69)
        val report = emptyReport(targetDate, scheduled,
          error = Some("No active sessions found"))
        reportSink.send(report)
        return report
      }

      val pageViews = BillingOps.pageViewsForDate(rawEvents, targetDate)
      // J2 folded in: each record carries its own session's token, so
      // the charge inputs below are a projection, not a join — one
      // charge per session row, as the reference's loop over sessions
      val pending = BillingOps.withPendingStatus(BillingOps.billingRecords(
        sessions, pageViews, targetDate, cfg, carry = Seq("accessToken")))
        .cache()
      cached = Some(pending)
      val records = pending.drop("accessToken")

      // 2. write-ahead: pending rows land before any charge is attempted.
      // billingRecords keeps one row per session, so the rows written
      // are the session count
      val sessionsObs = Observation()
      usageStore.append(BillingJob.observed(records, sessionsObs,
        BillingJob.sessionCountColumns))

      // 3. charge — (shop, accessToken, amount) travel together so the
      // sink needs no map probe. The side-effecting plan runs EXACTLY
      // ONCE, store-mediated: its single action is the append into the
      // charge-results store below — a lazily-cached Dataset could re-run
      // its partitions (task retry, cache eviction between the appends
      // and a later action) and double-charge shops, where the reference
      // charges each shop exactly once imperatively
      // (`billing.ts:128-160`). Enrichment and reporting then JOIN
      // against the persisted outcome (a fresh parquet scan, incapable
      // of re-invoking the sink), so no charge row ever funnels through
      // the driver — at 100× shop cardinality the old `collect()`
      // ceiling disappears while write-ahead ordering (pending append →
      // charges → final append) and per-shop idempotency keys are
      // unchanged. Task retries WITHIN the append are absorbed by the
      // idempotency key, exactly as before.
      val chargeInputs = pending
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
      val outcomes = chargeSink.chargeAll(spark, chargeInputs).toDF()
      // the report's histogram rides on the append: the observed rows
      // are the rows written (a result stage), never a re-run sink
      val histogramObs = Observation()
      chargeResults.append(BillingJob.observed(
        outcomes.withColumn("run_id", lit(runId)), histogramObs,
        BillingJob.histogramColumns))
      val results = chargeResults.readPartition(outcomes.schema, runId)

      // 4. append final statuses (J3 enrich; append-only)
      val enriched = BillingOps.enrichWithChargeResults(records, results)
      val finalObs = Observation()
      usageStore.append(BillingJob.observed(enriched, finalObs,
        BillingJob.finalColumns))

      // 5. report (A2/A3/A4, L2)
      val report = buildReport(targetDate, scheduled, records, sessionsObs,
        enriched, finalObs, results, histogramObs)
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
    } finally cached.foreach(_.unpersist(blocking = true))
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

  /** The day's report. Its figures were observed inside the three
    * appends — the session count on the pending append of `records`,
    * the totals, active-shop count and top shops on the final append of
    * `enriched`, the A4 histogram on the charge-results append — so
    * building it starts no job. A figure whose observation has not
    * arrived after the wait is computed with the same columns as one
    * aggregate over the frame that was written: `records`, `enriched`,
    * or `results` (the persisted outcomes, never the sink plan). */
  private def buildReport(targetDate: String, scheduled: Boolean,
      records: DataFrame, sessionsObs: Observation, enriched: DataFrame,
      finalObs: Observation, results: DataFrame,
      histogramObs: Observation): BatchReport = {
    def figures(obs: Observation, frame: DataFrame, cols: Seq[Column]) =
      BillingJob.awaitObservation(obs)
        .getOrElse(frame.agg(cols.head, cols.tail: _*).head())
    def long(r: Row, i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    val sessionCount =
      figures(sessionsObs, records, BillingJob.sessionCountColumns).getLong(0)
    val t = figures(finalObs, enriched, BillingJob.finalColumns)
    val h = figures(histogramObs, results, BillingJob.histogramColumns)
    val (ok, ko, skip) = (long(h, 0), long(h, 1), long(h, 2))
    val activeCount = long(t, 3)
    val top = t.getSeq[Row](4).map(r => ShopReportRow(r.getString(0),
      r.getLong(1), r.getDouble(2), r.getString(3)))
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
  /** How long the report waits, after an observed append returned, for
    * the observed figures to arrive over the listener bus before it
    * computes them over the frame written. */
  private val ObservationWait = scala.concurrent.duration.Duration(30, "s")

  /** The metrics `obs` collected, or None when they have not arrived
    * [[ObservationWait]] after the observed action returned. */
  private def awaitObservation(obs: Observation): Option[Row] =
    try Some(scala.concurrent.Await.result(obs.future, ObservationWait))
    catch { case _: java.util.concurrent.TimeoutException => None }

  /** Report detail cap (reference shows ≤10 shops; remainder is a
    * count line) — also the driver-side row bound on BOTH report
    * paths: happy (topShops) and failure (context reconstruction). */
  val maxShopsToShow: Int = 10

  /** The pending append's row count: one record per session. */
  private val sessionCountColumns: Seq[Column] =
    Seq(count(lit(1)).as("sessions"))

  /** The report's figures over `enriched`: [[BillingOps.totals]]'
    * record count, page views and rounded amount, the active-shop
    * count, then the top shops — [[BillingOps.topShops]]' rows (page
    * views > 0, amount desc, shop asc) kept by a k-bounded aggregator,
    * so no more than `maxShopsToShow` rows reach the driver. */
  private val finalColumns: Seq[Column] = BillingOps.totalsColumns ++ Seq(
    count(when(col("page_views") > 0, true)).as("active_shops"),
    udaf(new TopKAggregator[ShopReportRow](maxShopsToShow,
        Ordering.by((r: ShopReportRow) => (r.billingAmount, r.shop))(
          Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse,
            Ordering.String)),
        keep = _.pageViews > 0)).apply(
      col("shop"), col("page_views"), col("billing_amount"),
      col("shopify_billing_status"), lit(null).cast("string"),
      lit(null).cast("string")).as("top_shops"))

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
