package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.json4s._

import graft.catalog.AppendStore
import graft.driver.BillingJob
import graft.model.BillingConfig
import graft.sinks._

/** In-process stand-in for the remote charge API, served over real
  * sockets to the engine's `HttpChargeClient`. Every request waits a
  * fixed service delay (the remote round trip). Each shop has one
  * behaviour, fixed by the generator: `ok`, `429` or `503` (the first
  * charge attempt per idempotency key fails with that status, the retry
  * succeeds), or `401` (every call is refused). It counts the charges
  * it creates per idempotency key. */
final class ChargeStub(delayMs: Long, threads: Int) {
  @volatile var behaviour: Map[String, String] = Map.empty
  val created = new ConcurrentHashMap[String, AtomicInteger]
  private val attempts = new ConcurrentHashMap[String, AtomicInteger]
  private val pool = Executors.newFixedThreadPool(threads)
  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(pool)
  server.createContext("/", ex => handle(ex))
  server.start()

  def port: Int = server.getAddress.getPort
  def reset(): Unit = { created.clear(); attempts.clear() }
  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(status, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def handle(ex: HttpExchange): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(),
      StandardCharsets.UTF_8)
    val shop = ex.getRequestURI.getPath.stripPrefix("/")
    val key = Option(ex.getRequestHeaders.getFirst("Idempotency-Key"))
      .getOrElse("")
    if (delayMs > 0) Thread.sleep(delayMs)
    val b = behaviour.getOrElse(shop, "ok")
    if (b == "401") respond(ex, 401, """{"errors":"unauthorized"}""")
    else if (body.contains("currentAppInstallation"))
      respond(ex, 200,
        s"""{"data":{"currentAppInstallation":{"activeSubscriptions":[
           |{"lineItems":[{"id":"gid://stub/Li/$shop",
           |"plan":{"pricingDetails":{"__typename":"AppUsagePricing"}}}]}
           |]}}}""".stripMargin)
    else if (body.contains("appUsageRecordCreate")) {
      val n = attempts.computeIfAbsent(key, _ => new AtomicInteger)
        .incrementAndGet()
      if (n == 1 && (b == "429" || b == "503"))
        respond(ex, b.toInt, s"""{"errors":"status $b"}""")
      else {
        created.computeIfAbsent(key, _ => new AtomicInteger)
          .incrementAndGet()
        respond(ex, 200,
          s"""{"data":{"appUsageRecordCreate":{"appUsageRecord":
             |{"id":"gid://stub/AppUsageRecord/$key"},"userErrors":[]}}}"""
            .stripMargin)
      }
    } else respond(ex, 200, """{"data":{"shop":{"name":"stub"}}}""")
  }
}

/** Decorator on the charge-client seam: times every remote call and
  * counts lookups, charges, retryable failures and refusals. It runs
  * on Spark task threads, so it reports into the process-wide
  * [[Trace]]. */
final class TracingChargeClient(inner: ChargeClient) extends ChargeClient {
  override def lookupSubscriptionLineItem(shop: String,
      accessToken: String): String =
    call("lookup")(inner.lookupSubscriptionLineItem(shop, accessToken))

  override def createUsageCharge(shop: String, accessToken: String,
      lineItemId: String, amount: Double, description: String,
      idempotencyKey: String): String =
    call("charge")(inner.createUsageCharge(shop, accessToken, lineItemId,
      amount, description, idempotencyKey))

  override def testConnection(shop: String, accessToken: String): Boolean =
    inner.testConnection(shop, accessToken)

  private def call[T](kind: String)(f: => T): T = {
    val t0 = Trace.nowMs
    try Trace.span(s"sinks.$kind")(f)
    catch {
      case e: ChargeError =>
        if (e.retryable) Trace.add("sinks.retries")
        else Trace.add("sinks.declined")
        throw e
    } finally {
      val d = Trace.nowMs - t0
      Trace.add(s"sinks.${kind}_calls")
      Trace.add("sinks.call_ms_total", d)
      Trace.sample("sinks.call_ms", d)
    }
  }
}

object BillingDays {
  /** Built on the executor side; captures only the port, so the sink's
    * task closure stays serializable. */
  def clientFactory(port: Int): () => ChargeClient = () =>
    new TracingChargeClient(new HttpChargeClient(
      endpointOverride = Some(shop => s"http://127.0.0.1:$port/$shop")))

  def backoff(ms: Long): Unit = {
    Trace.add("sinks.backoff_ms", ms.toDouble)
    Thread.sleep(ms)
  }

  /** X6 as the engine states it: `round(views / 1e6 * rate, 2)`, half up. */
  def amount(views: Long, rate: Double): Double =
    BigDecimal(views / 1e6 * rate)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
}

/** `billing_days`: `BillingJob.processDailyBilling` over consecutive
  * days. A cycle is `days_per_cycle` days against one fresh usage store
  * and charge-results store; the run repeats whole cycles, so every run
  * weighs each day position of the append-only stores' growth equally.
  *
  * Inputs come from the seed: sessions (some with NULL or empty tokens,
  * which the batch must drop), and a multi-day `page_viewed` log with
  * decoy event names, NULL and empty shops, suffixed shop names, events
  * of shops without a session, and Zipf-skewed views per shop with a
  * zero-view tail whose charges are skipped. Every day's report is
  * checked against an independent computation over those inputs, and
  * the stub must see each chargeable shop charged exactly once a day. */
final class BillingDays(spark: SparkSession, p: Params, seed: Long,
    work: String) extends Workload {
  import spark.implicits._

  private val shops = p.int("shops")
  private val days = p.int("days_per_cycle")
  private val rate = p.dbl("rate_per_million")
  private val startDate = java.time.LocalDate.parse(p.str("start_date"))
  private val stub = new ChargeStub(p.long("stub_delay_ms"),
    p.int("stub_threads"))

  private case class Shop(name: String, token: String, behaviour: String,
      views: Array[Long])
  private var gen: Seq[Shop] = Nil
  private var inputDir = ""

  private def date(d: Int): String = startDate.plusDays(d.toLong).toString

  def setup(rep: Int): Unit = {
    val rnd = new java.util.Random(seed)
    val r = scala.util.Random.javaRandomToRandom(rnd)
    val zipfS = p.dbl("zipf_s")
    val ranks = r.shuffle((0 until shops).toList)
    val tailFrom = math.round(shops * (1 - p.dbl("zero_view_share"))).toInt
    // each share is an exact count of shops: the seed picks which shops,
    // never how many, so every seed bills the same amount of work
    def deal(shares: Seq[(String, String)], rest: String): Seq[String] = {
      val dealt = shares.flatMap { case (label, k) =>
        Seq.fill(math.round(shops * p.dbl(k)).toInt)(label) }
      r.shuffle(dealt ++ Seq.fill(shops - dealt.size)(rest))
    }
    val tokens = deal(Seq("null" -> "null_token_share",
      "empty" -> "empty_token_share"), "ok")
    val behaviours = deal(Seq("401" -> "share_401", "429" -> "share_429",
      "503" -> "share_503"), "ok")
    gen = (0 until shops).map { i =>
      val token = tokens(i) match {
        case "null" => null
        case "empty" => ""
        case _ => s"tok-$i"
      }
      val rank = ranks(i)
      val views = Array.tabulate(days) { _ =>
        val jitter = 0.8 + 0.4 * rnd.nextDouble()
        if (rank >= tailFrom) 0L
        else math.max(1L, math.round(p.dbl("views_max") * jitter /
          math.pow(rank + 1.0, zipfS)))
      }
      Shop(f"shop-$i%05d", token, behaviours(i), views)
    }
    stub.behaviour = gen.map(s => s.name -> s.behaviour).toMap

    // the event log: per (shop form, name, day) a count, expanded below
    val suffix = p.dbl("suffix_share")
    val decoy = p.dbl("decoy_per_view")
    val decoyNames = Seq("product_viewed", "page_view", "Page_Viewed",
      "page_viewed_v2")
    val strangers = p.int("sessionless_shops")
    val spec = (0 until days).flatMap { d =>
      gen.flatMap { s =>
        val n = s.views(d)
        val suffixed = math.round(n * suffix)
        val nd = math.round(n * decoy)
        Seq((s.name, "page_viewed", d, n - suffixed),
          (s.name + ".myshopify.com", "page_viewed", d, suffixed)) ++
          decoyNames.zipWithIndex.map { case (nm, j) =>
            (s.name, nm, d, nd / decoyNames.size +
              (if (j < nd % decoyNames.size) 1L else 0L)) }
      } ++ (0 until strangers).map(j =>
        (f"stranger-$j%03d", "page_viewed", d, 50L)) ++
        Seq((null, "page_viewed", d, p.long("null_shop_events")),
          ("", "page_viewed", d, p.long("null_shop_events")))
    }.filter(_._4 > 0)
    val start = startDate.atStartOfDay(java.time.ZoneOffset.UTC)
      .toEpochSecond
    inputDir = s"$work/billing/input-$rep"
    spec.toDF("shop", "name", "day", "n")
      .withColumn("i", explode(sequence(lit(1L), col("n"))))
      .select(col("shop"), col("name"),
        timestamp_seconds(lit(start) + col("day") * 86400L +
          pmod(col("i") * 7919L + col("day") * 13L, lit(86400L)))
          .as("created_at"))
      .repartition(4)
      .write.mode("overwrite").parquet(s"$inputDir/events")
    val created = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    gen.map(s => (s.name, s.token, created, created))
      .toDF("shop", "accessToken", "createdAt", "updatedAt")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$inputDir/sessions")
  }

  // ---- per-day stage boundaries, taken at the injected seams ----------
  private var dayStart = 0.0
  private var usageAppends = 0
  private var finalEnd = 0.0

  private def dirStats(path: String): (Long, Long) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return (0L, 0L)
    val it = fs.listFiles(p, true)
    var (files, bytes) = (0L, 0L)
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (!n.startsWith(".") && !n.startsWith("_")) {
        files += 1; bytes += f.getLen
      }
    }
    (files, bytes)
  }

  /** The append-store seam: a subclass that times each append and
    * read, names the batch stage it belongs to, and (traced) counts
    * the files and bytes each append adds. */
  private final class TracedStore(path: String, partitionCol: String,
      usage: Boolean) extends AppendStore(spark, path, Some(partitionCol)) {
    override def append(df: DataFrame): Unit = {
      val stage =
        if (!usage) "driver.charge"
        else if (usageAppends == 0) "driver.pending_append"
        else "driver.final_append"
      if (usage && usageAppends == 0)
        Trace.record("driver.prepare", dayStart, Trace.nowMs)
      if (usage) usageAppends += 1
      val before = if (Trace.enabled) dirStats(path) else (0L, 0L)
      Trace.span(stage) {
        Trace.span("catalog.append_store.append")(super.append(df))
      }
      if (usage && usageAppends == 2) finalEnd = Trace.nowMs
      if (Trace.enabled) {
        val after = dirStats(path)
        Trace.add("catalog.append_store.files", (after._1 - before._1).toDouble)
        Trace.add("catalog.append_store.bytes_written",
          (after._2 - before._2).toDouble)
      }
    }
    override def readOrEmpty(schema: StructType): DataFrame =
      Trace.span("catalog.append_store.read")(super.readOrEmpty(schema))
  }

  private final class TimedReportSink extends ReportSink {
    private val inner = new CollectingReportSink
    override def send(report: BatchReport): Unit = {
      Trace.record("driver.report_build", finalEnd, Trace.nowMs)
      Trace.span("driver.report_send")(inner.send(report))
    }
  }

  private var charged = 0L

  /** The independent computation of one day's report figures. */
  private def expected(d: Int): (Long, Long, Double, Long, Long, Long,
      Set[String]) = {
    val active = gen.filter(s => s.token != null && s.token.nonEmpty)
    val amounts = active.map(s => (s, BillingDays.amount(s.views(d), rate)))
    val billable = amounts.filter(_._2 > 0.0)
    val declined = billable.count(_._1.behaviour == "401").toLong
    val keys = billable.filter(_._1.behaviour != "401")
      .map(a => s"${a._1.name}:${date(d)}").toSet
    (active.size.toLong, active.map(_.views(d)).sum, amounts.map(_._2).sum,
      keys.size.toLong, declined, (amounts.size - billable.size).toLong, keys)
  }

  private def check(trace: String, d: Int, r: BatchReport): Unit = {
    val (records, views, total, ok, ko, skipped, keys) = expected(d)
    val errs = Seq(
      "error" -> (r.error.isEmpty, r.error.toString),
      "recordCount" -> (r.recordCount == records, s"${r.recordCount} != $records"),
      "totalPageViews" -> (r.totalPageViews == views,
        s"${r.totalPageViews} != $views"),
      // the engine sums doubles in task order before rounding
      "totalBillingAmount" -> (math.abs(r.totalBillingAmount - total) < 0.0101,
        s"${r.totalBillingAmount} != $total"),
      "successful" -> (r.successful == ok, s"${r.successful} != $ok"),
      "failed" -> (r.failed == ko, s"${r.failed} != $ko"),
      "skipped" -> (r.skipped == skipped, s"${r.skipped} != $skipped"),
      "success" -> (r.success == (ko == 0), s"${r.success}"))
      .collect { case (n, (false, msg)) => s"$n: $msg" }
    val day = s":${date(d)}"
    val seen = stub.created.asScala.collect {
      case (k, n) if k.endsWith(day) => k -> n.get }
    val stubErrs =
      (if (seen.keySet != keys)
        Seq(s"charged keys differ: ${(seen.keySet diff keys).take(3)} " +
          s"extra, ${(keys diff seen.keySet).take(3)} missing") else Nil) ++
      seen.collect { case (k, n) if n != 1 => s"$k charged $n times" }
    charged += ok + ko
    val all = errs ++ stubErrs
    if (all.nonEmpty) {
      System.err.println(s"[perfbench] $trace wrong: ${all.mkString("; ")}")
      Trace.failOp(trace)
    }
  }

  private lazy val sink = new ChargeSink(
    BillingDays.clientFactory(stub.port),
    concurrency = p.int("sink_concurrency"),
    maxRetries = p.int("max_retries"),
    baseDelayMs = p.long("retry_backoff_ms"),
    sleep = BillingDays.backoff)

  private def job(dir: String): BillingJob = new BillingJob(spark,
    new TracedStore(s"$dir/usage", "billing_date", usage = true), sink,
    new TimedReportSink, BillingConfig(ratePerMillion = rate),
    chargeResultsStore = Some(new TracedStore(
      s"$dir/usage__charge_results", "run_id", usage = false)))

  private def bill(job: BillingJob, d: Int): BatchReport = {
    usageAppends = 0
    dayStart = Trace.nowMs
    job.processDailyBilling(spark.read.parquet(s"$inputDir/sessions"),
      spark.read.parquet(s"$inputDir/events"), date(d))
  }

  /** `warm_days` untimed days on a throwaway store, tracing paused. */
  override def warm(): Unit = {
    val traced = Trace.enabled
    Trace.enabled = false
    stub.reset()
    val j = job(s"$work/billing/warm")
    (0 until p.int("warm_days")).foreach(d => bill(j, d % days))
    Trace.enabled = traced
  }

  def cycle(c: Int): Unit = {
    stub.reset()
    val j = job(s"$work/billing/cycle-$c")
    (0 until days).foreach { d =>
      val trace = s"c$c-d$d"
      Trace.op("billing.day", trace)(bill(j, d)).foreach(check(trace, d, _))
      Heap.afterOp()
    }
  }

  override def extra: JObject = JObject("charged_shops" -> JLong(charged))

  override def close(): Unit = stub.stop()
}
