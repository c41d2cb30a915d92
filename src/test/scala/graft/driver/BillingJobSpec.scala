package graft.driver

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.catalog.AppendStore
import graft.model.{BillingConfig, Schemas}
import graft.operators.BillingOps
import graft.sinks.{ChargeSink, CollectingReportSink, FakeChargeClient}

/** End-to-end §3.1/§3.2 behavior over inline fixtures: write-ahead
  * ordering, append-only state, latest-record-wins reads, charge
  * outcomes, report accounting, empty-session guard, dry-run purity. */
class BillingJobSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private val D = "2024-01-15"
  // rate chosen so 2 views yield a chargeable 2-dp amount
  private val cfg = BillingConfig(ratePerMillion = 10000.0)

  private def sessions = Seq(
    ("shop-ok", "tok-ok", ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:00")),
    ("shop-idle", "tok-idle", ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:00")),
    ("shop-bad", "bad-token", ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:00")),
    ("shop-filtered", null, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"))
  ).toDF("shop", "accessToken", "createdAt", "updatedAt")

  private def eventsDf = Seq(
    ("shop-ok.myshopify.com", "page_viewed", ts("2024-01-15 10:00:00")),
    ("shop-ok.myshopify.com", "page_viewed", ts("2024-01-15 11:00:00")),
    ("shop-bad.myshopify.com", "page_viewed", ts("2024-01-15 12:00:00")),
    ("shop-ok.myshopify.com", "page_viewed", ts("2024-01-16 10:00:00"))
  ).toDF("shop", "name", "created_at")

  private def newJob() = {
    val store = new AppendStore(spark,
      Files.createTempDirectory("graft-job").toString + "/usage")
    val reports = new CollectingReportSink
    val sink = new ChargeSink(() => new FakeChargeClient(
      failTokens = Set("bad-token")), concurrency = 2, sleep = _ => ())
    (new BillingJob(spark, store, sink, reports, cfg), store, reports)
  }

  test("processDailyBilling: write-ahead + final append, outcomes, report") {
    val (job, store, reports) = newJob()
    val report = job.processDailyBilling(sessions, eventsDf, D)

    // append-only: 3 active sessions x (pending + final) = 6 rows
    val all = store.readOrEmpty(Schemas.usageRecords)
    assert(all.count() == 6)

    // latest-wins view shows final statuses
    val state = BillingOps.latestUsageState(all)
      .select("shop", "shopify_billing_status")
      .as[(String, String)].collect().toMap
    assert(state == Map(
      "shop-ok" -> "success",   // 2 views -> 0.02 at rate 10000
      "shop-bad" -> "failed",   // invalid token
      "shop-idle" -> "skipped"  // zero views -> zero amount
    ))

    assert(report.sessionCount == 3 && report.recordCount == 3)
    assert(report.totalPageViews == 3) // 2 + 1 on the target date
    assert((report.successful, report.failed, report.skipped) == ((1L, 1L, 1L)))
    assert(!report.success) // one failed charge
    assert(reports.reports.size == 1)
  }

  test("guard: zero active sessions -> skipped result, nothing written") {
    val (job, store, reports) = newJob()
    val empty = sessions.where($"shop" === "no-such")
    val report = job.processDailyBilling(empty, eventsDf, D)
    assert(!report.success &&
      report.error.contains("No active sessions found"))
    assert(store.readOrEmpty(Schemas.usageRecords).count() == 0)
    assert(reports.reports.size == 1)
  }

  test("dry run: same plan, no writes, no charges") {
    val (job, store, _) = newJob()
    val out = job.testBillingForDate(sessions, eventsDf, D)
    val byShop = out.select("shop", "page_views", "billing_amount")
      .as[(String, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(byShop == Map(
      "shop-ok" -> ((2L, 0.02)),
      "shop-bad" -> ((1L, 0.01)),
      "shop-idle" -> ((0L, 0.0))))
    assert(store.readOrEmpty(Schemas.usageRecords).count() == 0,
      "dry run must not write")
  }

  test("dry run default date is UTC-today from the injected clock (X8)") {
    val store = new AppendStore(spark,
      Files.createTempDirectory("graft-dry").toString + "/usage")
    val sink = new ChargeSink(() => new FakeChargeClient(), concurrency = 2,
      sleep = _ => ())
    // 14:00 UTC Jan 15 = 23:00 JST: production would bill 01-14, the
    // dry-run default targets 01-15 — the reference's deliberate skew
    val clock = () => java.time.Instant.parse("2024-01-15T14:00:00Z")
    val job = new BillingJob(spark, store, sink,
      new CollectingReportSink, cfg, clock)
    val out = job.testBillingToday(sessions, eventsDf)
    val byShop = out.select("shop", "page_views")
      .as[(String, Long)].collect().toMap
    assert(byShop("shop-ok") == 2L) // events of 2024-01-15 counted
  }

  test("failure path: per-shop context reconstruction + error details") {
    // inject a store whose first write fails — the batch must catch,
    // rebuild per-shop context from the dry plan, and report it
    val store = new AppendStore(spark,
      Files.createTempDirectory("graft-fail").toString + "/usage") {
      override def append(df: org.apache.spark.sql.DataFrame): Unit =
        throw new RuntimeException("store exploded")
    }
    val reports = new CollectingReportSink
    val sink = new ChargeSink(() => new FakeChargeClient(), concurrency = 2,
      sleep = _ => ())
    val fixedNow = java.time.Instant.parse("2024-01-16T01:00:00Z")
    val job = new BillingJob(spark, store, sink, reports, cfg, () => fixedNow)
    val report = job.processDailyBilling(sessions, eventsDf, D)

    assert(!report.success)
    assert(report.error.exists(_.startsWith("Process failed: store exploded")))
    val details = report.errorDetails.get
    assert(details.message == "store exploded")
    assert(details.timestamp == "2024-01-16T01:00:00Z")
    assert(details.stack.exists(_.contains("store exploded")))
    // reconstruction: shops with activity, page-views desc, all skipped,
    // both error fields populated (billing.ts:207-215 shape)
    assert(report.topShops.map(_.shop) == Seq("shop-ok", "shop-bad"))
    assert(report.topShops.forall(r => r.status == "skipped" &&
      r.storeError.contains("store exploded") &&
      r.chargeError.contains("Process failed before charge sink")))
    assert(report.remainderShops == 0)
    assert(reports.reports.size == 1)
    // rendered shape carries the new fields
    val json = report.toJson
    assert(json.contains("\"errorDetails\":{\"message\":\"store exploded\""))
    assert(json.contains("\"storeError\":\"store exploded\""))
    // nothing must have been charged: the failure precedes the sink
    assert(report.successful == 0 && report.failed == 0)
  }

  test("a failed day releases its caches: the session caches none of " +
      "its plans after the final append throws") {
    // the pending append succeeds, the final one throws — by then the
    // day has cached its sessions, pending and enriched frames
    val store = new AppendStore(spark,
      Files.createTempDirectory("graft-fail-cache").toString + "/usage") {
      private var appends = 0
      override def append(df: org.apache.spark.sql.DataFrame): Unit = {
        appends += 1
        if (appends == 2) throw new RuntimeException("final append failed")
        super.append(df)
      }
    }
    val sink = new ChargeSink(() => new FakeChargeClient(), concurrency = 2,
      sleep = _ => ())
    val job = new BillingJob(spark, store, sink, new CollectingReportSink,
      cfg)
    spark.catalog.clearCache()
    val report = job.processDailyBilling(sessions, eventsDf, D)
    assert(report.error.exists(_.contains("final append failed")))
    assert(store.readOrEmpty(Schemas.usageRecords).count() == 3,
      "the pending append ran before the failure")
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("failure path bounds driver rows: topShops caps at " +
      "maxShopsToShow, remainder counted distributively") {
    // 14 active shops, failing store: the reconstruction must collect
    // only the top 10 (page_views desc, shop asc) and report the other
    // 4 as a remainder count — never the full active set
    val nShops = 14
    val manySessions = (1 to nShops).map { i =>
      (f"shop-$i%02d", s"tok-$i", ts("2024-01-01 00:00:00"),
        ts("2024-01-01 00:00:00"))
    }.toDF("shop", "accessToken", "createdAt", "updatedAt")
    val manyEvents = (1 to nShops).flatMap { i =>
      // shop-14 gets 14 views … shop-01 gets 1: deterministic order
      (1 to i).map(_ =>
        (f"shop-$i%02d.myshopify.com", "page_viewed",
          ts("2024-01-15 10:00:00")))
    }.toDF("shop", "name", "created_at")
    val store = new AppendStore(spark,
      Files.createTempDirectory("graft-fail-cap").toString + "/usage") {
      override def append(df: org.apache.spark.sql.DataFrame): Unit =
        throw new RuntimeException("store exploded")
    }
    val reports = new CollectingReportSink
    val sink = new ChargeSink(() => new FakeChargeClient(),
      concurrency = 2, sleep = _ => ())
    val job = new BillingJob(spark, store, sink, reports, cfg)
    val report = job.processDailyBilling(manySessions, manyEvents, D)

    assert(!report.success)
    assert(report.topShops.size == BillingJob.maxShopsToShow)
    assert(report.remainderShops ==
      (nShops - BillingJob.maxShopsToShow).toLong)
    // ordering preserved under the limit: highest-traffic shops first
    assert(report.topShops.map(_.shop) ==
      (nShops to (nShops - BillingJob.maxShopsToShow + 1) by -1)
        .map(i => f"shop-$i%02d"))
  }

  test("flagship entry() returns rows") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }

  test("charge outcomes are store-mediated: persisted per run, report " +
      "histogram computed without collecting charge rows") {
    val base = Files.createTempDirectory("graft-med").toString
    val store = new AppendStore(spark, base + "/usage")
    val sink = new ChargeSink(() => new FakeChargeClient(
      failTokens = Set("bad-token")), concurrency = 2, sleep = _ => ())
    val job = new BillingJob(spark, store, sink,
      new CollectingReportSink, cfg)
    val report = job.processDailyBilling(sessions, eventsDf, D)
    // the effectful plan's outcome landed in the sibling results store:
    // one row per active shop, tagged with this run's id
    val persisted = spark.read.parquet(base + "/usage__charge_results")
    assert(persisted.count() == 3)
    assert(persisted.select("run_id").distinct().count() == 1)
    val statuses = persisted
      .selectExpr("shop",
        "case when skipped then 'skipped' when success then 'success' " +
          "else 'failed' end as s")
      .as[(String, String)].collect().toMap
    assert(statuses == Map("shop-ok" -> "success",
      "shop-bad" -> "failed", "shop-idle" -> "skipped"))
    // and the report histogram agrees with the persisted outcomes
    assert((report.successful, report.failed, report.skipped) ===
      ((1L, 1L, 1L)))
  }

  test("the observed report equals an aggregation over the persisted " +
      "stores") {
    // 14 shops: shop-01 … shop-12 have 1 … 12 views on the date,
    // shop-13 and shop-14 none (skipped), shop-03's token is refused
    // (declined); 12 active shops, so the report has a remainder
    val base = Files.createTempDirectory("graft-observed").toString
    val store = new AppendStore(spark, base + "/usage")
    val sink = new ChargeSink(() => new FakeChargeClient(
      failTokens = Set("bad-token")), concurrency = 3, sleep = _ => ())
    val job = new BillingJob(spark, store, sink,
      new CollectingReportSink, cfg)
    val shopSessions = (1 to 14).map { i =>
      (f"shop-$i%02d", if (i == 3) "bad-token" else s"tok-$i",
        ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"))
    }.toDF("shop", "accessToken", "createdAt", "updatedAt")
    val shopEvents = (1 to 12).flatMap(i => (1 to i).map(_ =>
      (f"shop-$i%02d.myshopify.com", "page_viewed",
        ts("2024-01-15 10:00:00")))).toDF("shop", "name", "created_at")
    val report = job.processDailyBilling(shopSessions, shopEvents, D)

    import org.apache.spark.sql.functions._
    val state = BillingOps.latestUsageState(
        store.readOrEmpty(Schemas.usageRecords))
      .where($"billing_date" === to_date(lit(D)))
      .agg(count(lit(1)), sum($"page_views"),
        round(sum($"billing_amount"), 2),
        count(when($"page_views" > 0, true)))
      .head()
    val outcomes = spark.read.parquet(base + "/usage__charge_results")
    assert(outcomes.select("run_id").distinct().count() == 1)
    val h = outcomes.agg(
        count(when($"success" && !$"skipped", true)),
        count(when(!$"success", true)), count(when($"skipped", true)))
      .head()
    assert(report.recordCount == state.getLong(0))
    assert(report.totalPageViews == state.getLong(1))
    assert(report.totalBillingAmount == state.getDouble(2))
    assert(report.remainderShops ==
      state.getLong(3) - BillingJob.maxShopsToShow)
    assert((report.successful, report.failed, report.skipped) ==
      ((h.getLong(0), h.getLong(1), h.getLong(2))))
    // the fixture exercises every outcome and the remainder
    assert((report.successful, report.failed, report.skipped) ==
      ((11L, 1L, 2L)))
    assert(report.recordCount == 14 && report.remainderShops == 2)
    assert(report.topShops.size == BillingJob.maxShopsToShow)
  }

  test("J2: one charge per session row, each with its own token, and " +
      "no token reaches the usage log or the charge results") {
    TokenChargeClient.reset()
    val base = Files.createTempDirectory("graft-j2").toString
    val store = new AppendStore(spark, base + "/usage")
    val sink = new ChargeSink(() => new TokenChargeClient, concurrency = 2,
      sleep = _ => ())
    val job = new BillingJob(spark, store, sink,
      new CollectingReportSink, cfg)
    // two sessions normalize to one shop: the reference's charge loop
    // iterates sessions, so each is charged once, with its own token
    val t0 = ts("2024-01-01 00:00:00")
    val twoTokens = Seq(("shop-x", "tok-a", t0, t0),
        ("shop-x.myshopify.com", "tok-b", t0, t0))
      .toDF("shop", "accessToken", "createdAt", "updatedAt")
    val events = Seq(
      ("shop-x.myshopify.com", "page_viewed", ts("2024-01-15 10:00:00")),
      ("shop-x", "page_viewed", ts("2024-01-15 11:00:00"))
    ).toDF("shop", "name", "created_at")
    val report = job.processDailyBilling(twoTokens, events, D)
    assert(report.error.isEmpty && report.sessionCount == 2)
    assert(TokenChargeClient.calls.asScala.toSeq.sorted ==
      Seq(("shop-x", "tok-a"), ("shop-x", "tok-b")))
    Seq("/usage", "/usage__charge_results").foreach { dir =>
      assert(!spark.read.parquet(base + dir).columns
        .contains("accessToken"), dir)
    }
  }

  test("J3: two sessions that normalize to one shop meet one outcome " +
      "each, so the final append and the report count each session once") {
    TokenChargeClient.reset()
    val store = new AppendStore(spark,
      Files.createTempDirectory("graft-j3").toString + "/usage")
    val sink = new ChargeSink(() => new TokenChargeClient, concurrency = 2,
      sleep = _ => ())
    val job = new BillingJob(spark, store, sink,
      new CollectingReportSink, cfg)
    val t0 = ts("2024-01-01 00:00:00")
    val twoTokens = Seq(("shop-x", "tok-a", t0, t0),
        ("shop-x.myshopify.com", "tok-b", t0, t0))
      .toDF("shop", "accessToken", "createdAt", "updatedAt")
    val events = Seq(("shop-x", "page_viewed", ts("2024-01-15 10:00:00")))
      .toDF("shop", "name", "created_at")
    val report = job.processDailyBilling(twoTokens, events, D)
    assert(report.error.isEmpty)
    assert(report.recordCount == 2 && report.sessionCount == 2)
    assert(report.totalPageViews == 2)
    val finals = store.readOrEmpty(Schemas.usageRecords)
      .where($"shopify_billing_status" =!= graft.model.Status.Pending)
    assert(finals.count() == 2)
    // the outcome kept is the least one, whichever charge ran first
    assert(finals.select($"shopify_charge_id").as[String].collect().toSet ==
      Set("gid://fake/AppUsageRecord/shop-x/tok-a"))
  }

  test("replay of the same billing date cannot double-charge: " +
      "idempotency keys collapse re-runs to one creation per shop") {
    CountingChargeClient.reset()
    val store = new AppendStore(spark,
      Files.createTempDirectory("graft-replay").toString + "/usage")
    val sink = new ChargeSink(() => new CountingChargeClient,
      concurrency = 2, sleep = _ => ())
    val job = new BillingJob(spark, store, sink,
      new CollectingReportSink, cfg)
    val r1 = job.processDailyBilling(sessions, eventsDf, D)
    assert(r1.successful == 2) // shop-ok + shop-bad both chargeable
    assert(CountingChargeClient.creations.get() == 2)
    // operator re-runs the batch (same date → same idempotency keys):
    // the remote end replays stored ids, no new charge is created
    val r2 = job.processDailyBilling(sessions, eventsDf, D)
    assert(r2.successful == 2)
    assert(CountingChargeClient.creations.get() == 2,
      "replayed run must not create new charges")
    // a DIFFERENT date is a new logical charge set
    val r3 = job.processDailyBilling(sessions, eventsDf, "2024-01-16")
    assert(r3.sessionCount == 3)
    assert(CountingChargeClient.creations.get() > 2)
    // the append-only usage log kept every run's pending+final pairs
    assert(store.readOrEmpty(Schemas.usageRecords).count() == 18)
  }
}

/** A [[graft.sinks.ChargeClient]] whose charge ledger lives in a
  * JVM-global companion, so creations are counted across the
  * serialized closure copies Spark hands each task — the cross-RUN
  * idempotency observer the per-instance fake cannot be. */
class CountingChargeClient extends graft.sinks.ChargeClient
    with Serializable {
  override def lookupSubscriptionLineItem(shop: String, token: String) =
    s"gid://fake/LineItem/$shop"
  override def createUsageCharge(shop: String, token: String, li: String,
      amount: Double, description: String,
      idempotencyKey: String = ""): String = {
    val ledger = CountingChargeClient.charged
    if (idempotencyKey.nonEmpty && ledger.containsKey(idempotencyKey))
      return ledger.get(idempotencyKey)
    CountingChargeClient.creations.incrementAndGet()
    val id = s"gid://fake/AppUsageRecord/$shop"
    if (idempotencyKey.nonEmpty) ledger.put(idempotencyKey, id)
    id
  }
  override def testConnection(shop: String, token: String): Boolean = true
}

object CountingChargeClient {
  val charged =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  val creations = new java.util.concurrent.atomic.AtomicInteger(0)
  def reset(): Unit = { charged.clear(); creations.set(0) }
}

/** A [[graft.sinks.ChargeClient]] that records, JVM-wide, the (shop,
  * token) of every charge it is asked to create. */
class TokenChargeClient extends graft.sinks.ChargeClient with Serializable {
  override def lookupSubscriptionLineItem(shop: String, token: String) =
    s"gid://fake/LineItem/$shop"
  override def createUsageCharge(shop: String, token: String, li: String,
      amount: Double, description: String,
      idempotencyKey: String = ""): String = {
    TokenChargeClient.calls.add((shop, token))
    s"gid://fake/AppUsageRecord/$shop/$token"
  }
  override def testConnection(shop: String, token: String): Boolean = true
}

object TokenChargeClient {
  val calls =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
  def reset(): Unit = calls.clear()
}
