package graft.sinks

/** A deterministic in-memory client for tests: charges succeed unless
  * the token marks them failed, ids derive from the shop. Its state is
  * concurrent maps, so a sink's window threads may share one instance. */
final class FakeChargeClient(failTokens: Set[String] = Set.empty,
    failuresBeforeSuccess: Int = 0) extends ChargeClient with Serializable {
  private val attempts =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  override def lookupSubscriptionLineItem(shop: String, token: String) = {
    if (failTokens.contains(token))
      throw ChargeError("Invalid access token", retryable = false)
    s"gid://fake/AppSubscriptionLineItem/$shop"
  }
  private val chargedKeys =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  override def createUsageCharge(shop: String, token: String, li: String,
      amount: Double, description: String,
      idempotencyKey: String = ""): String = {
    // idempotent replay: a key that already charged returns the original
    // id without creating (or counting) a second charge
    if (idempotencyKey.nonEmpty && chargedKeys.containsKey(idempotencyKey))
      return chargedKeys.get(idempotencyKey)
    val n = attempts.merge(shop, 1, (a, b) => a + b)
    if (n <= failuresBeforeSuccess)
      throw ChargeError("Shopify API error: 503", retryable = true)
    val id = s"gid://fake/AppUsageRecord/$shop"
    if (idempotencyKey.nonEmpty) chargedKeys.put(idempotencyKey, id)
    id
  }
  override def testConnection(shop: String, token: String): Boolean =
    !failTokens.contains(token)
}
