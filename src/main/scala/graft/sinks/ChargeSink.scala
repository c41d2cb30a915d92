package graft.sinks

import java.util.concurrent.{ConcurrentHashMap, ExecutionException,
  ExecutorCompletionService, Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.{TaskContext, TaskKilledException}
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.{ChargeInput, UsageChargeResult}

/** Errors classified the way the reference maps HTTP statuses
  * (`/root/reference/src/services/shopifyBilling.ts:265-279`, U3).
  * `retryable` drives the retry loop. */
final case class ChargeError(message: String, retryable: Boolean)
  extends Exception(message)

object ChargeError {
  def fromHttpStatus(status: Int): ChargeError = status match {
    case 401 => ChargeError("Invalid access token", retryable = false)
    case 429 => ChargeError("Rate limit exceeded", retryable = true)
    case s if s >= 500 => ChargeError(s"Shopify API error: $s", retryable = true)
    case s => ChargeError(s"HTTP error: $s", retryable = false)
  }
}

/** The external charge API seam. The reference talks Shopify GraphQL
  * (`shopifyBilling.ts:142-232`: Q1 lookup of the usage-pricing line item,
  * M1 `appUsageRecordCreate` mutation, U6 probe); the engine keeps the
  * same three-call surface behind a serializable factory so executors can
  * construct clients per partition. One instance serves every call of
  * its partition's in-flight window at once (see [[ChargeSink]]), so
  * implementations must be thread-safe. Tests inject fakes at exactly
  * this seam, like the reference's own test
  * (`shopifyBilling.test.ts:72-81`). */
trait ChargeClient {
  /** U4/Q1: resolve the subscription line item to charge against. */
  def lookupSubscriptionLineItem(shop: String, accessToken: String): String
  /** U5/M1: create the usage charge; returns the charge id. The amount is
    * serialized 2-dp at this edge (X7, `shopifyBilling.ts:209`). A
    * non-empty `idempotencyKey` asks the remote end to collapse repeats
    * of the same logical charge (Spark task retries). */
  def createUsageCharge(shop: String, accessToken: String,
      lineItemId: String, amount: Double, description: String,
      idempotencyKey: String = ""): String
  /** U6: connection probe. */
  def testConnection(shop: String, accessToken: String): Boolean
}

object Retry {
  /** U2: ≤ `maxRetries` attempts, exponential backoff
    * `baseDelayMs * 2^(attempt-1)` (reference `shopifyBilling.ts:91-140`:
    * MAX_RETRIES=3, base 1000 ms → 1s, 2s). Non-retryable errors
    * propagate immediately. `sleep` injectable for tests. */
  def withRetry[T](maxRetries: Int = 3, baseDelayMs: Long = 1000L,
      sleep: Long => Unit = Thread.sleep)(f: Int => T): T = {
    var attempt = 1
    while (true) {
      try return f(attempt)
      catch {
        case e: ChargeError if e.retryable && attempt < maxRetries =>
          sleep(baseDelayMs * (1L << (attempt - 1)))
          attempt += 1
        case e: Throwable => throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

/** S6: the side-effecting external charge sink.
  *
  * Distribution model: at most `concurrency` charges are in flight at
  * once, whatever the task slots, like the reference's
  * `pLimit(BATCH_SIZE=5)` event-loop gate (`shopifyBilling.ts:53,64-78`,
  * U1). The input is coalesced to at most `min(concurrency,
  * defaultParallelism)` partitions — a narrow dependency, so the calls
  * run in the tasks that produce the rows and no shuffle precedes them
  * — and each partition streams its rows through a window of in-flight
  * calls on its own daemon threads. The windows are sized from the
  * partition count the tasks actually see (`TaskContext.numPartitions`,
  * which is below the target when the input has fewer partitions):
  * `concurrency / n` each, the remainder to the low partition ids, so
  * they always sum to `concurrency`, and an input that arrives in one
  * partition gets one window of `concurrency`. While a partition has
  * rows left, a finished call frees its slot for the next row, so with
  * enough rows in every partition the peak in flight is `concurrency`,
  * and it is never more. Outcomes leave in completion order, one per
  * input row. The per-partition client is constructed once (connection
  * reuse) and shared by the window's threads; the Q1 line-item lookup
  * is cached per (shop, token) within a partition, mirroring how the
  * reference pays Q1 once per shop.
  *
  * Semantics preserved from the reference: zero/negative amounts short-
  * circuit to `skipped` BEFORE any API call (F5, `shopifyBilling.ts:
  * 68-74`); failures after retries yield a `failed` row, never an
  * exception (the pipeline continues; `shopifyBilling.ts:79-88`).
  */
final class ChargeSink(clientFactory: () => ChargeClient,
    concurrency: Int = 5, maxRetries: Int = 3, baseDelayMs: Long = 1000L,
    sleep: Long => Unit = Thread.sleep) extends Serializable {

  def chargeAll(spark: SparkSession,
      charges: Dataset[ChargeInput]): Dataset[UsageChargeResult] = {
    import spark.implicits._
    val parts = math.min(concurrency, spark.sparkContext.defaultParallelism)
    val (factory, total, retries, delay, slp) =
      (clientFactory, concurrency, maxRetries, baseDelayMs, sleep)
    charges.coalesce(parts).mapPartitions { it =>
      val task = TaskContext.get()
      val (pid, n) = (task.partitionId(), task.numPartitions())
      val width = total / n + (if (pid < total % n) 1 else 0)
      val client = factory()
      val lineItems = new LineItemCache(client)
      new InFlightWindow(it, width, s"charge-sink-p$pid")({ c =>
        if (c.amount <= 0.0)
          UsageChargeResult(c.shop, success = true, None, None,
            amount = 0.0, skipped = true)
        else {
          try {
            val chargeId = Retry.withRetry(retries, delay, slp) { _ =>
              val li = lineItems(c.shop, c.accessToken)
              client.createUsageCharge(c.shop, c.accessToken, li, c.amount,
                description = f"Page view billing: ${c.amount}%.2f USD",
                idempotencyKey = c.idempotencyKey)
            }
            UsageChargeResult(c.shop, success = true, Some(chargeId), None,
              c.amount, skipped = false)
          } catch {
            case e: Throwable =>
              UsageChargeResult(c.shop, success = false, None,
                Some(Option(e.getMessage).getOrElse(e.getClass.getName)),
                c.amount, skipped = false)
          }
        }
      })
    }
  }
}

/** The Q1 memo a partition's window threads share: at most one
  * successful lookup per (shop, token). Concurrent askers of one key
  * wait for the first; a lookup that throws caches nothing, so the
  * retry asks again. */
private final class LineItemCache(client: ChargeClient) {
  private final class Cell { var lineItem: String = _ }
  private val cells = new ConcurrentHashMap[(String, String), Cell]

  def apply(shop: String, token: String): String = {
    val cell = cells.computeIfAbsent((shop, token), _ => new Cell)
    cell.synchronized {
      if (cell.lineItem == null)
        cell.lineItem = client.lookupSubscriptionLineItem(shop, token)
      cell.lineItem
    }
  }
}

/** Streams `in` through at most `width` concurrent calls of `f` on
  * daemon threads, without materializing the partition: a row is read
  * from `in` only when a slot is free, and results come back in
  * completion order, one per row. The pool is shut down when the rows
  * run out and, failing that, when the task completes; a killed task
  * submits no further call. */
private final class InFlightWindow[A, B](in: Iterator[A], width: Int,
    name: String)(f: A => B) extends Iterator[B] {
  private val pool = Executors.newFixedThreadPool(width, new ThreadFactory {
    private val n = new AtomicInteger
    override def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"$name-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })
  private val done = new ExecutorCompletionService[B](pool)
  private var pending = 0
  private val task = Option(TaskContext.get())
  task.foreach(_.addTaskCompletionListener[Unit](_ => pool.shutdownNow()))
  fill()

  private def fill(): Unit =
    while (pending < width && in.hasNext) {
      if (task.exists(_.isInterrupted()))
        throw new TaskKilledException("killed before its next charge")
      val a = in.next()
      done.submit(() => f(a))
      pending += 1
    }

  override def hasNext: Boolean = {
    if (pending == 0) pool.shutdown()
    pending > 0
  }

  override def next(): B = {
    if (!hasNext) throw new NoSuchElementException("no charge left")
    val b = try done.take().get()
      catch { case e: ExecutionException => throw e.getCause }
    pending -= 1
    fill()
    b
  }
}
