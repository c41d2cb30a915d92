package graft.sinks

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.{ChargeInput, UsageChargeResult}

class ChargeSinkSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val noSleep: Long => Unit = _ => ()

  test("U2: retry schedule is 1s, 2s exponential backoff") {
    val delays = scala.collection.mutable.ArrayBuffer.empty[Long]
    var calls = 0
    val out = Retry.withRetry(maxRetries = 3, baseDelayMs = 1000L,
      sleep = delays += _) { _ =>
      calls += 1
      if (calls < 3) throw ChargeError("Shopify API error: 503", retryable = true)
      "ok"
    }
    assert(out == "ok" && calls == 3)
    assert(delays.toSeq == Seq(1000L, 2000L))
  }

  test("U2: non-retryable errors propagate immediately") {
    var calls = 0
    val e = intercept[ChargeError] {
      Retry.withRetry(maxRetries = 3, baseDelayMs = 1L, sleep = noSleep) { _ =>
        calls += 1
        throw ChargeError("Invalid access token", retryable = false)
      }
    }
    assert(calls == 1 && e.getMessage == "Invalid access token")
  }

  test("U2: retries exhausted -> last error propagates") {
    var calls = 0
    intercept[ChargeError] {
      Retry.withRetry(maxRetries = 3, baseDelayMs = 1L, sleep = noSleep) { _ =>
        calls += 1
        throw ChargeError("Rate limit exceeded", retryable = true)
      }
    }
    assert(calls == 3)
  }

  test("U3: HTTP status classification matches the reference") {
    assert(ChargeError.fromHttpStatus(401).getMessage == "Invalid access token")
    assert(!ChargeError.fromHttpStatus(401).retryable)
    assert(ChargeError.fromHttpStatus(429).getMessage == "Rate limit exceeded")
    assert(ChargeError.fromHttpStatus(429).retryable)
    assert(ChargeError.fromHttpStatus(503).getMessage == "Shopify API error: 503")
    assert(ChargeError.fromHttpStatus(503).retryable)
    assert(!ChargeError.fromHttpStatus(404).retryable)
  }

  test("F5/S6: zero amounts skip without touching the client; outcomes per shop") {
    val sink = new ChargeSink(() => new FakeChargeClient(
      failTokens = Set("bad-token")), concurrency = 2, sleep = noSleep)
    val charges = Seq(
      ChargeInput("shop-ok", "tok", 10.50),
      ChargeInput("shop-zero", "tok", 0.0),
      ChargeInput("shop-bad", "bad-token", 5.0)
    ).toDS()
    val out = sink.chargeAll(spark, charges).collect()
      .map(r => r.shop -> r).toMap
    assert(out("shop-zero").skipped && out("shop-zero").success)
    assert(out("shop-ok").success && !out("shop-ok").skipped &&
      out("shop-ok").chargeId.exists(_.contains("shop-ok")) &&
      out("shop-ok").amount == 10.50)
    assert(!out("shop-bad").success &&
      out("shop-bad").error.contains("Invalid access token"))
  }

  /** U1 on the `local[4]` session: every configured in-flight slot is
    * used, whether `concurrency` exceeds the task slots or not, and
    * however many partitions the input arrives in. Returns the charged
    * plan. */
  private def peakOf(concurrency: Int,
      input: Seq[ChargeInput] => Dataset[ChargeInput] = _.toDS())
      : Dataset[UsageChargeResult] = {
    PeakChargeClient.reset()
    val sink = new ChargeSink(() => new PeakChargeClient, concurrency,
      maxRetries = 3, baseDelayMs = 1L, sleep = noSleep)
    // every fifth shop fails its first charge with a retryable 503
    val charges = input((1 to 60).map(i =>
      ChargeInput(f"s$i%02d", if (i % 5 == 0) "flaky" else "t", 1.0,
        f"s$i%02d:d")))
    val charged = sink.chargeAll(spark, charges)
    val out = charged.collect()
    assert(out.length == 60 && out.forall(r => r.success && !r.skipped))
    assert(out.map(_.shop).toSet.size == 60)
    assert(PeakChargeClient.peak.get() == concurrency)
    assert(PeakChargeClient.created.size() == 60 &&
      PeakChargeClient.created.values().asScala.forall(_.get() == 1),
      "each shop is charged once")
    assert(PeakChargeClient.lookups.size() == 60 &&
      PeakChargeClient.lookups.values().asScala.forall(_.get() == 1),
      "Q1 runs once per (shop, token), retries included")
    assert(PeakChargeClient.retried.get() == 12)
    charged
  }

  test("U1: concurrency above the task slots keeps that many calls in " +
      "flight") {
    peakOf(6)
  }

  test("U1: concurrency below the task slots keeps that many calls in " +
      "flight") {
    peakOf(3)
  }

  test("U1: an input in one partition (the billing shape) keeps " +
      "`concurrency` calls in flight with no shuffle") {
    val charged = peakOf(4,
      xs => spark.createDataset(spark.sparkContext.parallelize(xs, 1)))
    val plan = charged.queryExecution.executedPlan
    assert(collect(plan) { case e: ShuffleExchangeLike => e }.isEmpty,
      plan.toString)
  }

  test("idempotency key collapses a replayed charge to one creation") {
    val client = new FakeChargeClient()
    val li = client.lookupSubscriptionLineItem("shop-a", "tok")
    val id1 = client.createUsageCharge("shop-a", "tok", li, 3.0, "d",
      idempotencyKey = "shop-a:2024-01-15")
    // a task retry replays the same logical charge: same id, no second
    // charge created
    val id2 = client.createUsageCharge("shop-a", "tok", li, 3.0, "d",
      idempotencyKey = "shop-a:2024-01-15")
    assert(id1 === id2)
    // a DIFFERENT billing date is a new charge, not a replay
    val id3 = client.createUsageCharge("shop-a", "tok", li, 3.0, "d",
      idempotencyKey = "shop-a:2024-01-16")
    assert(id3 === id1) // fake derives ids from shop; key only gates dedup
  }

  test("S6 + U2: transient failures recover within the retry budget") {
    val sink = new ChargeSink(() => new FakeChargeClient(
      failuresBeforeSuccess = 2), concurrency = 1, maxRetries = 3,
      baseDelayMs = 1L, sleep = noSleep)
    val out = sink.chargeAll(spark,
      Seq(ChargeInput("shop-flaky", "tok", 2.0)).toDS()).collect()
    assert(out.head.success && out.head.chargeId.nonEmpty)
  }
}

/** A charge client that records, JVM-wide, the peak number of its
  * calls in flight at once across every partition's instance. Each
  * call sleeps, so calls started together overlap. A shop whose token
  * is `flaky` fails its first charge attempt with a retryable 503. */
class PeakChargeClient extends ChargeClient with Serializable {
  import PeakChargeClient._

  private def call[T](f: => T): T = {
    val now = inFlight.incrementAndGet()
    peak.accumulateAndGet(now, math.max)
    try { Thread.sleep(25); f } finally inFlight.decrementAndGet()
  }
  private def bump(m: ConcurrentHashMap[String, AtomicInteger],
      k: String): Int =
    m.computeIfAbsent(k, _ => new AtomicInteger).incrementAndGet()

  override def lookupSubscriptionLineItem(shop: String, token: String) =
    call { bump(lookups, s"$shop/$token"); s"gid://peak/Li/$shop" }
  override def createUsageCharge(shop: String, token: String, li: String,
      amount: Double, description: String,
      idempotencyKey: String = ""): String = call {
    if (token == "flaky" && bump(attempts, shop) == 1) {
      retried.incrementAndGet()
      throw ChargeError("Shopify API error: 503", retryable = true)
    }
    bump(created, shop)
    s"gid://peak/AppUsageRecord/$shop"
  }
  override def testConnection(shop: String, token: String): Boolean = true
}

object PeakChargeClient {
  val inFlight = new AtomicInteger
  val peak = new AtomicInteger
  val retried = new AtomicInteger
  val lookups = new ConcurrentHashMap[String, AtomicInteger]
  val attempts = new ConcurrentHashMap[String, AtomicInteger]
  val created = new ConcurrentHashMap[String, AtomicInteger]
  def reset(): Unit = {
    Seq(inFlight, peak, retried).foreach(_.set(0))
    Seq(lookups, attempts, created).foreach(_.clear())
  }
}
