package graft.sinks

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The production HTTP binding of [[ChargeClient]]: Shopify Admin
  * GraphQL over real sockets, shaped exactly like the reference client
  * (`/root/reference/src/services/shopifyBilling.ts:183-298`):
  *
  *   - endpoint `https://{shop}.myshopify.com/admin/api/{version}/graphql.json`
  *     with the `.myshopify.com` suffix ensured (X9, `:236-240`);
  *   - POST body `{"query":…,"variables":…}`, headers
  *     `X-Shopify-Access-Token` + `Content-Type: application/json`
  *     (`:245-254`), 30 s request timeout (`:255`);
  *   - HTTP status classification per U3 (`:265-279`): 401 → invalid
  *     token (terminal), 429 → rate limited (retryable), ≥500 → server
  *     error (retryable), other non-2xx and transport failures →
  *     `API request failed` (terminal), all surfaced as [[ChargeError]]
  *     so [[Retry.withRetry]] drives the backoff loop unchanged;
  *   - top-level GraphQL `errors` and mutation `userErrors` raised as
  *     terminal errors (`:257-260`, `:221-224`);
  *   - Q1 lookup walks `activeSubscriptions[].lineItems[]` for the
  *     `AppUsagePricing` line item (`:142-179`); M1 serializes the
  *     amount 2-dp at this edge (X7, `:206-210`).
  *
  * `endpoint` is injectable so tests point at an in-process stub —
  * production uses the default shaping. A non-empty idempotency key
  * travels as an `Idempotency-Key` header so a replay-aware remote end
  * can collapse Spark task retries.
  *
  * One `HttpClient` per instance: the ChargeSink constructs a client
  * per partition, so connection pools are executor-local and reused
  * across that partition's shops (same amortization as the per-
  * partition line-item cache). The partition's in-flight window
  * threads all call this one instance at once; that is safe because
  * `java.net.http.HttpClient` is thread-safe and nothing else here is
  * mutable.
  */
final class HttpChargeClient(
    apiVersion: String = "2024-01",
    timeoutSeconds: Int = 30,
    endpointOverride: Option[String => String] = None)
  extends ChargeClient {

  // the default endpoint must follow apiVersion (a default-arg
  // expression can't reference an earlier param here without freezing
  // the version), so the override is an Option resolved after both
  private[sinks] val endpoint: String => String =
    endpointOverride.getOrElse(HttpChargeClient.defaultEndpoint(apiVersion))

  private val http: HttpClient = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(timeoutSeconds.toLong))
    .build()

  override def lookupSubscriptionLineItem(shop: String,
      accessToken: String): String = {
    val json = post(shop, accessToken, HttpChargeClient.LineItemQuery,
      JObject())
    val subs = json \ "data" \ "currentAppInstallation" \
      "activeSubscriptions"
    val lineItemIds = subs match {
      case JArray(subscriptions) =>
        for {
          sub <- subscriptions
          JArray(items) <- List(sub \ "lineItems")
          item <- items
          if (item \ "plan" \ "pricingDetails" \ "__typename") ==
            JString("AppUsagePricing")
          JString(id) <- List(item \ "id")
        } yield id
      case _ => Nil
    }
    lineItemIds.headOption.getOrElse(
      throw ChargeError("No usage pricing line item found",
        retryable = false))
  }

  override def createUsageCharge(shop: String, accessToken: String,
      lineItemId: String, amount: Double, description: String,
      idempotencyKey: String = ""): String = {
    val variables = JObject(
      "subscriptionLineItemId" -> JString(lineItemId),
      // Money serializes as a 2-dp STRING at the API edge (X7)
      "price" -> JObject(
        "amount" -> JString(f"$amount%.2f"),
        "currencyCode" -> JString("USD")),
      "description" -> JString(description))
    val json = post(shop, accessToken, HttpChargeClient.UsageChargeMutation,
      variables, idempotencyKey)
    val create = json \ "data" \ "appUsageRecordCreate"
    create \ "userErrors" match {
      case JArray(errs) if errs.nonEmpty =>
        val msgs = errs.flatMap(e => (e \ "message") match {
          case JString(m) => Some(m); case _ => None
        })
        throw ChargeError(s"GraphQL errors: ${msgs.mkString(", ")}",
          retryable = false)
      case _ => ()
    }
    create \ "appUsageRecord" \ "id" match {
      case JString(id) => id
      case _ => throw ChargeError(
        "Failed to create usage charge - no charge ID returned",
        retryable = false)
    }
  }

  override def testConnection(shop: String, accessToken: String): Boolean =
    try { post(shop, accessToken, HttpChargeClient.ShopNameQuery,
      JObject()); true }
    catch { case _: Throwable => false }

  /** One GraphQL round trip: serialize, send, classify, parse. */
  private def post(shop: String, accessToken: String, query: String,
      variables: JObject, idempotencyKey: String = ""): JValue = {
    val body = JsonMethods.compact(JsonMethods.render(JObject(
      "query" -> JString(query), "variables" -> variables)))
    val builder = HttpRequest.newBuilder()
      .uri(URI.create(endpoint(shop)))
      .timeout(Duration.ofSeconds(timeoutSeconds.toLong))
      .header("X-Shopify-Access-Token", accessToken)
      .header("Content-Type", "application/json")
    if (idempotencyKey.nonEmpty)
      builder.header("Idempotency-Key", idempotencyKey)
    val request = builder.POST(HttpRequest.BodyPublishers.ofString(
      body, StandardCharsets.UTF_8)).build()
    val response =
      try http.send(request, HttpResponse.BodyHandlers.ofString())
      catch {
        case e: ChargeError => throw e
        // transport failure / timeout: the reference folds these into a
        // terminal "API request failed" (`shopifyBilling.ts:276-278`)
        case e: Exception => throw ChargeError(
          s"API request failed: ${Option(e.getMessage)
            .getOrElse(e.getClass.getSimpleName)}", retryable = false)
      }
    val status = response.statusCode()
    if (status < 200 || status >= 300)
      throw ChargeError.fromHttpStatus(status)
    // a 2xx with an unparseable body is a broken API edge, not a rate
    // or auth condition: classify terminal like other transport faults
    val json =
      try JsonMethods.parse(response.body())
      catch {
        case e: Exception => throw ChargeError(
          s"API request failed: malformed response body " +
            s"(${e.getClass.getSimpleName})", retryable = false)
      }
    // the reference fails on any truthy `errors` (`shopifyBilling.ts:
    // 257-260`) — JS truthiness exactly: false/""/0/NaN/null/undefined
    // pass, everything else (including the EMPTY array and object —
    // truthy in JS) is a terminal error
    json \ "errors" match {
      case JNothing | JNull | JBool(false) | JString("") => json
      case JInt(i) if i == 0 => json
      case JLong(0L) => json
      case JDouble(d) if d == 0.0 || d.isNaN => json
      case JDecimal(d) if d == 0 => json
      case JArray(errs) =>
        val msgs = errs.flatMap(e => (e \ "message") match {
          case JString(m) => Some(m); case _ => None
        })
        throw ChargeError(s"GraphQL errors: ${msgs.mkString(", ")}",
          retryable = false)
      case other =>
        throw ChargeError(s"GraphQL errors: " +
          JsonMethods.compact(JsonMethods.render(other)),
          retryable = false)
    }
  }
}

object HttpChargeClient {

  /** Default production endpoint shaping (`shopifyBilling.ts:236-242`):
    * ensure the `.myshopify.com` suffix, then the versioned Admin
    * GraphQL path. */
  def defaultEndpoint(apiVersion: String): String => String = { shop =>
    val domain = if (shop.contains(".myshopify.com")) shop
      else s"$shop.myshopify.com"
    s"https://$domain/admin/api/$apiVersion/graphql.json"
  }

  /** Q1 (`shopifyBilling.ts:143-157`). */
  val LineItemQuery: String =
    """query {
      |  currentAppInstallation {
      |    activeSubscriptions {
      |      lineItems {
      |        id
      |        plan { pricingDetails { __typename } }
      |      }
      |    }
      |  }
      |}""".stripMargin

  /** M1 (`shopifyBilling.ts:187-202`). */
  val UsageChargeMutation: String =
    """mutation appUsageRecordCreate($subscriptionLineItemId: ID!, $price: MoneyInput!, $description: String!) {
      |  appUsageRecordCreate(
      |    subscriptionLineItemId: $subscriptionLineItemId,
      |    price: $price,
      |    description: $description
      |  ) {
      |    appUsageRecord { id }
      |    userErrors { field message }
      |  }
      |}""".stripMargin

  /** U6 probe (`shopifyBilling.ts:284-292`). */
  val ShopNameQuery: String = "query { shop { name } }"
}
