package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

import graft.catalog.LogStore

/** Cumulative page-view state per shop, emitted by the stateful stream. */
final case class ShopTotal(shop: String, total: Long)

/** Ring buffer of the last `span` values for [[StreamingOps.streamingEwma]]. */
final case class EwmaState(values: Seq[Long])
final case class EwmaPoint(user_id: Long, d: java.sql.Date, n: Long,
    ewma: Double)

/** Open SCD2 run carried in the state store: the interval that hasn't
  * seen its closing event yet. */
final case class Scd2Run(state: String, validFrom: java.sql.Timestamp,
    nEvents: Long)

/** A closed SCD2 interval emitted by the streaming builder. */
final case class Scd2Closed(user_id: Long, state: String,
    valid_from: java.sql.Timestamp, valid_to: java.sql.Timestamp,
    n_events: Long)

/** Structured-Streaming twin of the daily batch aggregation (SURVEY
  * §2.9): the reference consumes its event log in daily batch slices;
  * the same aggregation expressed as a watermarked windowed streaming
  * query is the engine's incremental path. Not needed for parity — the
  * batch `tumblingCounts` below is the oracle-checkable equivalent and
  * shares the groupBy shape with the streaming plan.
  */
object StreamingOps {

  /** Start a stateful streaming query with its STATE partition count
    * sized to the aggregation's key cardinality instead of the
    * session's shuffle-partition default. Spark pins a stateful
    * query's state partitioning from `spark.sql.shuffle.partitions`
    * at first start (it lands in the checkpoint's offset metadata and
    * is immutable thereafter), so a low-cardinality aggregation — a
    * handful of event types, a bounded window set — otherwise carries
    * one state-store instance per shuffle partition FOREVER: every
    * micro-batch pays that many state opens, delta files and commits
    * for state that fits in one. That tax grows with cluster width
    * (cores → shuffle partitions) while the useful work doesn't,
    * which is exactly backwards; sizing by expected key count is
    * scale-independent. The override is visible only to the queries
    * `body` STARTS: StreamExecution clones the session synchronously
    * inside `start()`, so the saved value is restored before anything
    * else plans against this session. */
  def withStatePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, saved)
  }

  /** Batch-equivalent tumbling-window counts (shares semantics with the
    * streaming query below; oracle: date_trunc on the window start). */
  def tumblingCounts(events: DataFrame, window: String = "1 hour"): DataFrame =
    events
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window)
        .as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))

  /** Streaming twin of [[graft.operators.RelationalOps.resampleOhlc]]:
    * watermarked tumbling OHLC downsampling. Open/close are expressed
    * as `min_by`/`max_by` over the (ts, id) struct order — COMMUTATIVE
    * aggregates, so they merge correctly across micro-batches where the
    * batch operator's row_number formulation (identical result, proven
    * in the spec) could not stream. High/low/count and the
    * DECIMAL-exact value sum are standard mergeable aggregates; late
    * events inside the watermark update their bucket, beyond it they
    * drop — the incremental form of a re-runnable closed bucket. */
  def streamingOhlc(spark: SparkSession, sourceDir: String,
      schema: StructType, window: String = "1 hour",
      watermark: String = "1 hour"): DataFrame =
    spark.readStream.schema(schema).parquet(sourceDir)
      .where(col("value").isNotNull)
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window)
        .as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
        sum(col("value").cast(
          org.apache.spark.sql.types.DecimalType(22, 6)))
          .cast("double").as("vsum"))
      .select(col("w.start").as("bucket"), col("event_type"), col("n"),
        col("open"), col("high"), col("low"), col("close"), col("vsum"))

  /** Stream-static enrichment join (§2.9): the streaming event source
    * left-joins a STATIC dimension (lookup table, feature store
    * snapshot) that broadcasts to every micro-batch — the incremental
    * twin of the reference's J1 session-enrichment join, and the only
    * join flavor that needs neither watermark nor state store (the
    * static side is re-read per batch at worst, broadcast-pinned at
    * best; no late-data semantics exist to manage). */
  def streamingStaticEnrich(spark: SparkSession, sourceDir: String,
      schema: StructType, dim: DataFrame,
      key: String = "user_id"): DataFrame =
    spark.readStream.schema(schema).parquet(sourceDir)
      .join(broadcast(dim), Seq(key), "left")

  /** Streaming source → watermarked tumbling agg. Caller starts the
    * returned frame with `writeStream`. */
  def streamingTumblingCounts(spark: SparkSession, sourceDir: String,
      schema: StructType, window: String = "1 hour",
      watermark: String = "1 hour"): DataFrame =
    spark.readStream.schema(schema).parquet(sourceDir)
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"))

  /** The streaming twin of the reference's daily page-view aggregation
    * (SURVEY §2.9): watermarked 1-day tumbling window over the event
    * log, per normalized shop — `getPageViewsForDate` as an incremental
    * query. Late events within the watermark update their day; beyond
    * it they are dropped, which is the streaming analogue of the
    * reference's re-runnable closed business day. */
  def streamingDailyPageViews(spark: SparkSession, sourceDir: String,
      schema: StructType, watermark: String = "1 hour"): DataFrame =
    spark.readStream.schema(schema).parquet(sourceDir)
      .where(col("name") === "page_viewed" &&
        col("shop").isNotNull && col("shop") =!= "")
      .withWatermark("created_at", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("created_at"), "1 day"),
        graft.operators.BillingOps.normalizeShop(col("shop")).as("shop"))
      .agg(count(lit(1)).as("event_count"))
      .select(col("window.start").as("day"), col("shop"), col("event_count"))

  /** Custom streaming state via `mapGroupsWithState`: a per-shop
    * running page-view total that survives across micro-batches — the
    * stateful building block the windowed aggregations can't express
    * (monotone lifetime counters, session carts, etc.). State is one
    * Long per shop: at 100 TB/day the state store stays
    * O(number-of-shops), not O(events). */
  def statefulRunningCounts(spark: SparkSession, sourceDir: String,
      schema: StructType): Dataset[ShopTotal] = {
    import spark.implicits._
    spark.readStream.schema(schema).parquet(sourceDir)
      .where(col("name") === "page_viewed" &&
        col("shop").isNotNull && col("shop") =!= "")
      .select(graft.operators.BillingOps.normalizeShop(col("shop"))
        .as("shop")).as[String]
      .groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (shop: String, rows: Iterator[String], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + rows.size
          state.update(total)
          ShopTotal(shop, total)
      }
  }

  /** Streaming dedup of an at-least-once event feed: duplicates of
    * `idCol` arriving within the watermark are dropped, and state for an
    * id is evicted once the watermark passes it — so state is bounded by
    * (event rate × watermark), not the lifetime of the stream. This is
    * the streaming twin of the batch latest-record-wins view (A5). */
  def streamingDedup(spark: SparkSession, sourceDir: String,
      schema: StructType, idCol: String, tsCol: String,
      watermark: String = "1 hour"): DataFrame =
    spark.readStream.schema(schema).parquet(sourceDir)
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCol)

  /** Stream-stream interval join: purchases matched to same-user view
    * events at most `horizon` earlier — the incremental form of the
    * backward as-of/attribution join. Both sides are watermarked and the
    * join condition carries the time bound, so each side's buffered
    * state is evicted once the other side's watermark passes the
    * horizon: state stays O(rate × horizon) regardless of stream age. */
  def streamingViewPurchaseJoin(spark: SparkSession, sourceDir: String,
      schema: StructType, horizon: String = "1 hour",
      watermark: String = "1 hour"): DataFrame = {
    val src = spark.readStream.schema(schema).parquet(sourceDir)
    val views = src.where(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
    val purchases = src.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    purchases.join(views,
      col("p_user_id") === col("user_id") &&
      col("view_ts") <= col("purchase_ts") &&
      col("view_ts") >= col("purchase_ts") - expr(s"INTERVAL $horizon"),
      "inner")
      .select(col("purchase_id"), col("p_user_id").as("user_id"),
        col("purchase_ts"), col("view_id"), col("view_ts"))
  }

  /** Streaming session windows: the same `session_window` expression as
    * the batch twin, watermarked so closed sessions emit exactly once
    * in append mode and per-user session state is bounded by the
    * watermark horizon. */
  def streamingSessionCounts(spark: SparkSession, sourceDir: String,
      schema: StructType, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    spark.readStream.schema(schema).parquet(sourceDir)
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"),
        org.apache.spark.sql.functions.session_window(col("ts"), gap)
          .as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  /** UPDATE-MODE streaming aggregation → KEYED UPSERTS into a
    * graft-log table, exactly once — the write-side twin of the keyed
    * change-feed mirror ([[mirrorLogToLogKeyed]] consumes a table's
    * changes; this PRODUCES a latest-state table from a live
    * aggregation). Update mode emits only the keys whose aggregate
    * changed in the micro-batch; each batch lands through
    * [[graft.catalog.LogStore.applyChangesKeyed]] as one fenced
    * commit (replace-or-insert by `keyCols`, stats-pruned when the
    * leading key is the table's stats column), so:
    *
    *  - at-least-once foreachBatch delivery → exactly-once table
    *    content (the txn fence makes a replayed batch a no-op);
    *  - a RESTART resumes from the streaming checkpoint's aggregation
    *    state and the table's fence — no double-applied deltas, no
    *    gaps;
    *  - readers see each micro-batch's upserts atomically, and the
    *    target's own change feed stays truthful (pre/post images), so
    *    the state table can itself be mirrored.
    *
    * The table is ALWAYS the batch aggregate of everything consumed —
    * the streaming answer to "keep a latest-state table live". */
  /** STREAMING INDEX MAINTENANCE: tail the corpus table's native
    * change feed and absorb every micro-batch into the persisted IVF
    * index via [[graft.operators.AnnIndex.maintainIvf]]. The stream
    * is only the SCHEDULER — the micro-batch content is discarded;
    * maintainIvf re-reads the feed transactionally from the index's
    * own txn cursor, so at-least-once foreachBatch delivery,
    * overlapping batches, restarts (with or without the Spark
    * checkpoint) and replays all collapse into the fence:
    * stream-fed index ≡ batch-maintained index, exactly once.
    * Deletes ride the same loop (the feed carries them; maintainIvf
    * turns them into posting deletion vectors), and the trained
    * policy's drift-triggered retrain fires from here too. With
    * `availableNow` (the default) the query drains the current
    * history and terminates — the cron-style maintenance shape; pass
    * false for a long-running tail. */
  def maintainIvfStream(spark: SparkSession, corpusRoot: String,
      idx: graft.operators.AnnIndex.IvfIndex, checkpointDir: String,
      nCells: Int = 16, availableNow: Boolean = true,
      retrainDriftRatio: Double = 3.0): StreamingQuery = {
    import org.apache.spark.sql.streaming.Trigger
    val writer = spark.readStream.format("graft-log")
      .option("path", corpusRoot).load()
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (_: DataFrame, _: Long) =>
        val store = graft.catalog.LogStore.configured(spark, corpusRoot)
        graft.operators.AnnIndex.maintainIvf(spark, store, idx,
          nCells, retrainDriftRatio): Unit
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow())
     else writer).start()
  }

  /** [[maintainIvfStream]]'s IVF-PQ twin: tail the corpus feed and
    * absorb each micro-batch via
    * [[graft.operators.AnnIndex.maintainIvfPq]] — the same
    * stream-is-only-the-scheduler discipline (the index's txn cursor
    * makes at-least-once delivery, overlaps, restarts and replays
    * collapse into the fence), with the PQ specifics riding the
    * maintainer: fresh vectors are ENCODED under the persisted
    * codebook, deletes land as posting DVs, and carried filter
    * attributes re-copy from the feed. */
  def maintainIvfPqStream(spark: SparkSession, corpusRoot: String,
      idx: graft.operators.AnnIndex.IvfPqIndex, checkpointDir: String,
      availableNow: Boolean = true): StreamingQuery = {
    import org.apache.spark.sql.streaming.Trigger
    val writer = spark.readStream.format("graft-log")
      .option("path", corpusRoot).load()
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (_: DataFrame, _: Long) =>
        val store = graft.catalog.LogStore.configured(spark, corpusRoot)
        graft.operators.AnnIndex.maintainIvfPq(spark, store, idx): Unit
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow())
     else writer).start()
  }

  /** `statePartitions` sizes the aggregation's state-store count to
    * its key cardinality ([[withStatePartitions]]); None keeps the
    * session default. */
  def upsertAggToLog(aggregated: DataFrame,
      target: graft.catalog.LogStore, keyCols: Seq[String],
      checkpointDir: String,
      statePartitions: Option[Int] = None): StreamingQuery = {
    def go(): StreamingQuery = aggregated.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val dels = batch.limit(0).select(keyCols.map(col): _*)
        target.applyChangesKeyed(batch, dels, keyCols, batchId): Unit
      }
      .start()
    statePartitions match {
      case Some(n) =>
        withStatePartitions(aggregated.sparkSession, n)(go())
      case None => go()
    }
  }

  /** The one state protocol every maintainer below shares. The state
    * at `statePath` is a [[LogStore]] table the caller seeds (one
    * `append` of the initial state, empty or not), and its `txn`
    * action is the fence: the last batch folded in. A batch at or
    * behind the fence returns at once — [[LogStore.lastTxn]] is
    * driver metadata, no Spark job — so at-least-once micro-batch
    * delivery yields exactly-once state. Otherwise `step` folds the
    * batch into the current state and [[LogStore.rebuildWithFence]]
    * lands the result and the fence in ONE commit: a step or write
    * that fails leaves the old snapshot and fence in place, and a
    * replay of the same batch then applies it once. One driver
    * writes a state table at a time, as foreachBatch does. Live
    * state is what `step` returns; superseded segments are reclaimed
    * by `vacuum`, as for every LogStore table. */
  private[streaming] def foldState(spark: SparkSession, statePath: String,
      batchId: Long)(step: DataFrame => DataFrame): Unit = {
    val store = LogStore.configured(spark, statePath)
    if (batchId > store.lastTxn())
      store.rebuildWithFence(step(store.read()), batchId,
        targetSegments = 1): Unit
  }

  /** The current snapshot of a [[foldState]] table — every read side
    * below goes through it. */
  private def readState(spark: SparkSession, statePath: String): DataFrame =
    LogStore.configured(spark, statePath).read()

  /** One micro-batch of streaming aggregate maintenance: fold a batch
    * of `RelationalOps.snapshotDiff` change rows into the stored
    * per-key (cnt, sm) state at `statePath` — the streaming face of
    * CDC-driven incremental aggregation. [[foldState]]'s fence makes a
    * replayed batch a no-op, so at-least-once micro-batch delivery
    * still yields exactly-once state: applying a diff twice would
    * otherwise double-count. Live state is O(#groups); the DECIMAL
    * sums telescope exactly, so state after N batches is
    * bit-identical to a full recompute of the final snapshot.
    * Factored out of the foreachBatch closure so replay is
    * unit-testable. */
  def maintainAggState(statePath: String, key: String, value: String)(
      diff: DataFrame, batchId: Long): Unit =
    foldState(diff.sparkSession, statePath, batchId)(
      foldSumCount(_, diff, key, value))

  /** `RelationalOps.applyDiffToSumCount` with `sm` cast back to the
    * state's own type: the fold widens the DECIMAL sum, and the state
    * table refuses a type change between rebuilds. */
  private def foldSumCount(state: DataFrame, diff: DataFrame,
      key: String, value: String): DataFrame =
    graft.operators.RelationalOps
      .applyDiffToSumCount(state, diff, key, value)
      .withColumn("sm", col("sm").cast(state.schema("sm").dataType))

  /** One micro-batch of streaming Count-Min maintenance: build the
    * partial sketch of this batch's keys and counter-add it into the
    * stored d×w state — the streaming face of mergeable-sketch
    * frequency tracking (the same union-then-estimate life cycle as
    * the HLL partials in `agg_hll_mergeable`, with [[foldState]]'s
    * fence so micro-batch replay cannot double-count). Live state is
    * ≤ d·w rows; after N batches it is bit-identical to the batch
    * sketch of the concatenated stream because Count-Min merge IS
    * counter addition. */
  def maintainCountMinState(statePath: String, keyCol: String,
      d: Int = 4, w: Int = 256)(batch: DataFrame, batchId: Long): Unit =
    foldState(batch.sparkSession, statePath, batchId)(
      _.unionByName(graft.operators.Sketches.countMin(batch,
          col(keyCol), d, w))
        .groupBy(col("r"), col("bucket")).agg(sum(col("cnt")).as("cnt")))

  /** Exactly-once per-group HLL upkeep — the streaming face of
    * `agg_hll_mergeable`'s union-then-estimate life cycle, completing
    * the mergeable-sketch trio (Count-Min: frequencies, KLL:
    * quantiles, HLL: distinct counts). State is one Datasketches HLL
    * binary per group (g STRING, sk BINARY) behind [[foldState]]'s
    * fence, so live state is O(#groups) and replays are no-ops.
    *
    * Unlike the KLL upkeep (one global sketch, merged driver-side),
    * the merge here is FULLY distributed: the batch's partial sketches
    * full-outer-join the stored ones on the group key and union
    * per-row — HLL register max is commutative, associative and
    * idempotent, so after N batches the state estimates exactly what
    * the batch sketch of the concatenated stream would. */
  def maintainHllState(statePath: String, groupCol: String,
      valueCol: String)(batch: DataFrame, batchId: Long): Unit =
    foldState(batch.sparkSession, statePath, batchId) { state =>
      val partial = batch
        .select(col(groupCol).cast("string").as("g"),
          col(valueCol).as("v"))
        .where(col("v").isNotNull)
        .groupBy(col("g")).agg(hll_sketch_agg(col("v")).as("psk"))
      state.select(col("g"), col("sk"))
        .join(partial, Seq("g"), "full_outer")
        .select(col("g"),
          when(col("sk").isNull, col("psk"))
            .when(col("psk").isNull, col("sk"))
            .otherwise(hll_union(col("sk"), col("psk"))).as("sk"))
    }

  /** Per-group distinct-count estimates from a maintained HLL state
    * table — the read side of [[maintainHllState]]. */
  def hllStateEstimates(spark: SparkSession, statePath: String): DataFrame =
    readState(spark, statePath)
      .select(col("g"), hll_sketch_estimate(col("sk")).as("approx"))

  /** Exactly-once Misra–Gries upkeep — the last of the mergeable
    * sketches to gain a streaming face (CMS: frequencies, KLL:
    * quantiles, HLL: distinct, KMV: set ops, MG: heavy hitters).
    * State is the sketch's ≤ k (item LONG, cnt LONG) rows behind
    * [[foldState]]'s fence; per batch the partial sketch aggregates
    * distributed and merges with the stored one via the SAME
    * `MisraGriesAggregator.merge` the batch surface uses (Agarwal et
    * al.'s mergeable-summaries rule: sum counts, subtract the
    * (k+1)-th largest). Unlike the other maintainers the CONTRACT is
    * the MG guarantee, not bit-parity — the sketch's exact counters
    * are merge-tree-dependent by construction, but under ANY tree
    * every item with true count > n/(k+1) is present and estimates
    * sit within n/(k+1) below truth; the spec asserts exactly that
    * against the concatenated stream. */
  def maintainMisraGriesState(statePath: String, keyCol: String,
      k: Int = 8)(batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    import s.implicits._
    val agg = new graft.operators.MisraGriesAggregator(k)
    foldState(s, statePath, batchId) { state =>
      val partial: Map[Long, Long] = batch
        .select(col(keyCol).cast("long").as("x"))
        .where(col("x").isNotNull).as[Long]
        .groupByKey(_ => 0)
        .agg(agg.toColumn.name("sk"))
        .collect().headOption.map(_._2).getOrElse(Map.empty)
      val prior: Map[Long, Long] = state.select(col("item"), col("cnt"))
        .as[(Long, Long)].collect().toMap
      agg.merge(prior, partial).toSeq.toDF("item", "cnt")
    }
  }

  /** Incremental aggregate sync FROM a log table's Change Data Feed —
    * the consumer side of the table's exactly-once story: the state
    * table carries the per-key (cnt, sm) aggregate, and its
    * [[foldState]] fence is the last SOURCE version it has absorbed
    * (the cursor pattern of the ANN index maintainers). Each sync
    * reads ONLY `readChanges(last+1, latest)` — O(changed rows),
    * never O(table) — adapts it with `cdcToDiff`, and folds it in
    * with `applyDiffToSumCount` in one commit. A replayed re-sync
    * sees latest ≤ fence and is a no-op, so crash-restart delivery
    * is exactly-once; after N syncs the state
    * is bit-identical to a full recompute of the latest snapshot
    * (DECIMAL sums telescope). Returns the version now absorbed.
    * Seed: the aggregate at some version V landed with
    * `appendStream(agg, batchId = V)` — or an empty aggregate landed
    * with a plain `append` to build from the feed alone. */
  def syncSumCountFromLog(spark: SparkSession,
      store: LogStore, statePath: String, idCol: String,
      key: String, value: String): Long = {
    val last = math.max(LogStore.configured(spark, statePath).lastTxn(),
      -1L)
    val latest = store.latestVersion()
    if (latest <= last) return last // fenced: nothing new to absorb
    val diff = graft.operators.RelationalOps.cdcToDiff(
      store.readChanges(last + 1, latest), idCol, key, value)
    foldState(spark, statePath, latest)(foldSumCount(_, diff, key, value))
    latest
  }

  /** Exactly-once upkeep of the per-group TRUE counts behind the ε-DP
    * count release — the streaming face of
    * `AnalyticsOps.dpNoisyCounts`, behind [[foldState]]'s fence like
    * the sketch maintainers. Only the additive true counts
    * (g STRING, n LONG) are state, O(#groups) live; the geometric
    * noise is applied ON READ by [[dpCountStateRelease]], because the
    * draw is a deterministic function of (salt, group) alone —
    * independent of n and of arrival order — so a release read from
    * maintained state after N batches is bit-identical to the batch
    * release over the concatenated stream. Noise-on-read is also the
    * correct DP lifecycle: noising per micro-batch and summing would
    * compound N draws (and N·ε of budget) where the release spends
    * one. */
  def maintainDpCountState(statePath: String, groupCol: String)(
      batch: DataFrame, batchId: Long): Unit =
    foldState(batch.sparkSession, statePath, batchId) { state =>
      val partial = batch
        .select(col(groupCol).cast("string").as("g"))
        .where(col("g").isNotNull)
        .groupBy(col("g")).agg(count(lit(1)).as("n"))
      state.select(col("g"), col("n")).unionByName(partial)
        .groupBy(col("g")).agg(sum(col("n")).cast("long").as("n"))
    }

  /** The read side of [[maintainDpCountState]]: the ε-DP count release
    * over the maintained state — delegates to the SAME
    * `dpReleaseFromCounts` step the batch surface uses, so the two can
    * never drift. Output matches `dpNoisyCounts` on the concatenated
    * stream: (g, n, noise, released). */
  def dpCountStateRelease(spark: SparkSession, statePath: String,
      salt: String = "dp"): DataFrame =
    graft.operators.AnalyticsOps.dpReleaseFromCounts(
      readState(spark, statePath).select(col("g"), col("n")),
      "g", salt)

  /** Exactly-once upkeep of the (true count, clipped integer sum)
    * state (g STRING, n LONG, clipped_units LONG) behind the ε-DP
    * MEAN release — the streaming face of `AnalyticsOps.dpNoisyMean`,
    * completing the DP streaming surface beside
    * [[maintainDpCountState]]. The clipping happens PER ROW at
    * accumulation (the shared `dpClippedUnits` definition), so the
    * additive state telescopes exactly; both noise draws apply ON READ
    * via [[dpMeanStateRelease]] — one draw per release, not per
    * micro-batch. Live state is O(#groups) of pure integers. */
  def maintainDpMeanState(statePath: String, groupCol: String,
      valueCol: String, clip: Double = 100.0)(
      batch: DataFrame, batchId: Long): Unit =
    foldState(batch.sparkSession, statePath, batchId) { state =>
      val partial = batch
        .select(col(groupCol).cast("string").as("g"),
          graft.operators.AnalyticsOps.dpClippedUnits(valueCol, clip)
            .as("u"))
        .where(col("g").isNotNull)
        .groupBy(col("g"))
        .agg(count(lit(1)).as("n"), sum(col("u")).as("clipped_units"))
      state.select(col("g"), col("n"), col("clipped_units"))
        .unionByName(partial)
        .groupBy(col("g"))
        .agg(sum(col("n")).cast("long").as("n"),
          sum(col("clipped_units")).cast("long").as("clipped_units"))
    }

  /** The read side of [[maintainDpMeanState]]: the ε-DP mean release
    * over the maintained state, through the SAME
    * `dpMeanReleaseFromState` step as the batch surface. Output
    * matches `dpNoisyMean` on the concatenated stream. */
  def dpMeanStateRelease(spark: SparkSession, statePath: String,
      clip: Double = 100.0, salt: String = "dp"): DataFrame =
    graft.operators.AnalyticsOps.dpMeanReleaseFromState(
      readState(spark, statePath)
        .select(col("g"), col("n"), col("clipped_units")),
      "g", clip, salt)

  /** Exactly-once upkeep of the per-bin slice counts behind the PSI
    * drift readout — the streaming face of `AnalyticsOps.psiDrift`,
    * behind [[foldState]]'s fence like the sketch maintainers. State
    * is the additive (bin STRING, c_ref LONG, c_cur LONG) relation —
    * O(#bins) live; the smoothing, log grid, and total all apply ON
    * READ via [[psiStateRelease]] through the SAME `psiFromBinCounts`
    * step the batch surface uses, so a release after N micro-batches
    * is bit-identical to the batch PSI over the concatenated
    * stream. */
  def maintainPsiState(statePath: String, binCol: String,
      isRefCol: String)(batch: DataFrame, batchId: Long): Unit =
    foldState(batch.sparkSession, statePath, batchId) { state =>
      val partial = batch
        .select(col(binCol).cast("string").as("bin"), col(isRefCol))
        .where(col("bin").isNotNull)
        .groupBy(col("bin"))
        .agg(sum(when(col(isRefCol), 1L).otherwise(0L)).as("c_ref"),
          sum(when(col(isRefCol), 0L).otherwise(1L)).as("c_cur"))
      state.select(col("bin"), col("c_ref"), col("c_cur"))
        .unionByName(partial)
        .groupBy(col("bin"))
        .agg(sum(col("c_ref")).cast("long").as("c_ref"),
          sum(col("c_cur")).cast("long").as("c_cur"))
    }

  /** The read side of [[maintainPsiState]]: the PSI readout over the
    * maintained bin counts, through the SAME `psiFromBinCounts` step
    * as the batch surface. Output matches `psiDrift` on the
    * concatenated stream: (bin, c_ref, c_cur, ln_ratio, psi_term,
    * psi_total). */
  def psiStateRelease(spark: SparkSession, statePath: String): DataFrame =
    graft.operators.AnalyticsOps.psiFromBinCounts(
      readState(spark, statePath)
        .select(col("bin"), col("c_ref"), col("c_cur")))

  /** Exactly-once upkeep of the daily two-arm sufficient statistics
    * behind the always-valid mSPRT monitor — the streaming face of
    * `AnalyticsOps.msprtSequential`, and the op's NATIVE habitat: the
    * whole point of an always-valid p-value is that someone reads it
    * continuously while data arrives. State is the additive
    * (grp STRING, day DATE, da, dxa, db, dxb LONG) daily relation —
    * O(groups × days) live, never the event stream; the cumulative
    * scan, mixture ratio, and running max all apply ON READ via
    * [[msprtStateRelease]] through the SAME `msprtFromDaily` step the
    * batch surface uses, so a release after N micro-batches is
    * bit-identical to the batch readout over the concatenated
    * stream. [[foldState]]'s fence: a replayed micro-batch is a
    * no-op. */
  def maintainMsprtState(statePath: String, groupCol: String,
      tsCol: String, armCol: String, successCol: String)(
      batch: DataFrame, batchId: Long): Unit =
    foldState(batch.sparkSession, statePath, batchId)(
      _.select(col("grp"), col("day"), col("da"), col("dxa"),
          col("db"), col("dxb"))
        .unionByName(graft.operators.AnalyticsOps
          .msprtDaily(batch, groupCol, tsCol, armCol, successCol))
        .groupBy(col("grp"), col("day"))
        .agg(sum(col("da")).cast("long").as("da"),
          sum(col("dxa")).cast("long").as("dxa"),
          sum(col("db")).cast("long").as("db"),
          sum(col("dxb")).cast("long").as("dxb")))

  /** The read side of [[maintainMsprtState]]: the always-valid
    * sequential readout over the maintained daily relation, through
    * the SAME `msprtFromDaily` step as the batch surface. Output
    * matches `msprtSequential` on the concatenated stream. */
  def msprtStateRelease(spark: SparkSession, statePath: String,
      tauSqNum: Long = 1L, tauSqDen: Long = 100L): DataFrame =
    graft.operators.AnalyticsOps.msprtFromDaily(
      readState(spark, statePath)
        .select(col("grp"), col("day"), col("da"), col("dxa"),
          col("db"), col("dxb")),
      tauSqNum, tauSqDen)

  /** Exactly-once upkeep of the per-group arm counts behind the
    * sample-ratio-mismatch guardrail — the assignment sanity check
    * experimentation platforms run CONTINUOUSLY as exposures stream
    * in, because an SRM caught on day one saves the experiment.
    * State is the additive (grp STRING, n_a LONG, n_b LONG) relation
    * — O(groups) live; the χ² clears on read via [[srmStateRelease]]
    * through the SAME `srmFromCounts` step as the batch surface. */
  def maintainSrmState(statePath: String, groupCol: String,
      armCol: String)(batch: DataFrame, batchId: Long): Unit =
    foldState(batch.sparkSession, statePath, batchId) { state =>
      val partial = batch.groupBy(col(groupCol).as("grp"))
        .agg(sum(when(col(armCol) === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col(armCol) === 0, 0L).otherwise(1L)).as("n_b"))
      state.select(col("grp"), col("n_a"), col("n_b"))
        .unionByName(partial)
        .groupBy(col("grp"))
        .agg(sum(col("n_a")).cast("long").as("n_a"),
          sum(col("n_b")).cast("long").as("n_b"))
    }

  /** The read side of [[maintainSrmState]]: the χ² guardrail over the
    * maintained arm counts, through the SAME `srmFromCounts` step as
    * the batch surface. Output matches `srmCheck` on the
    * concatenated stream. */
  def srmStateRelease(spark: SparkSession, statePath: String,
      ratioA: Long = 1L, ratioB: Long = 1L): DataFrame =
    graft.operators.AnalyticsOps.srmFromCounts(
      readState(spark, statePath)
        .select(col("grp"), col("n_a"), col("n_b")),
      ratioA, ratioB)

  /** Streaming DP-count upkeep: a file stream of raw rows keeps the
    * per-group true-count table current; releases read the tiny state
    * table through [[dpCountStateRelease]], never the stream history. */
  def streamingDpCounts(spark: SparkSession, sourceDir: String,
      schema: StructType, groupCol: String, statePath: String,
      checkpointDir: String): StreamingQuery =
    spark.readStream.schema(schema).parquet(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(maintainDpCountState(statePath, groupCol) _)
      .start()

  /** Bounded-state streaming dedup via a Bloom filter — the
    * FIXED-MEMORY answer to "have I ingested this key before" when
    * the exact seen-set would grow with the stream forever (the
    * standard trade: a false positive DROPS a genuinely-new row with
    * probability ≈ fill⁴, never emits a duplicate; size [bits] to the
    * expected key volume). Live state is ONE row — (bloom_hex STRING,
    * n_keys LONG) — whatever the stream's length; the filter k = 4
    * positions use the same md5-slice recipe as the LogStore segment
    * blooms, computed by a codegen'd expression per row (no UDF).
    * Fenced by [[foldState]] like every maintainer here. */
  def maintainBloomDedupState(statePath: String, keyCol: String,
      bits: Int = 4096)(batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    import s.implicits._
    foldState(s, statePath, batchId) { state =>
      val prior = state.select(col("bloom_hex"), col("n_keys"))
        .collect().headOption
      val hex = prior.map(_.getString(0)).getOrElse("0" * (bits / 4))
      val nKeys = prior.map(_.getLong(1)).getOrElse(0L)
      val arr = new Array[Boolean](bits)
      hex.zipWithIndex.foreach { case (c, i) =>
        val v = Integer.parseInt(String.valueOf(c), 16)
        (0 until 4).foreach(b => if ((v & (1 << b)) != 0)
          arr(i * 4 + b) = true)
      }
      // distinct NEW keys this batch = rows the prior bloom can't
      // already claim (counted before their own bits land)
      val fresh = bloomNewRows(batch, keyCol, hex, bits)
        .select(col(keyCol).cast("string").as("k")).distinct()
      val newKeys = fresh.count()
      val posCols = (0 until 4).map { i =>
        pmod(conv(substring(md5(col("k").cast("binary")), 1 + 8 * i, 8),
          16, 10).cast("long"), lit(bits.toLong)).cast("int")
      }
      fresh.select(explode(array(posCols: _*)).as("p"))
        .distinct().collect().foreach(r => arr(r.getInt(0)) = true)
      val outHex = arr.grouped(4).map { nib =>
        Integer.toHexString((if (nib(0)) 1 else 0) |
          (if (nib(1)) 2 else 0) | (if (nib(2)) 4 else 0) |
          (if (nib(3)) 8 else 0))
      }.mkString
      Seq((outHex, nKeys + newKeys)).toDF("bloom_hex", "n_keys")
    }
  }

  /** The read side of [[maintainBloomDedupState]]: the rows of
    * `batch` whose key the maintained bloom CANNOT have seen — i.e.
    * at least one of its 4 bit positions is clear. Codegen'd
    * per-row expression against the broadcast-literal hex; no UDF,
    * no join. */
  def bloomDedupNew(spark: SparkSession, statePath: String,
      batch: DataFrame, keyCol: String, bits: Int = 4096): DataFrame =
    bloomNewRows(batch,
      keyCol, readState(spark, statePath)
        .select(col("bloom_hex")).head.getString(0), bits)

  private def bloomNewRows(batch: DataFrame, keyCol: String,
      hex: String, bits: Int): DataFrame = {
    // the hex bitset rides as an int-array literal; per-row bit test
    // is element_at + mask — all codegen'd builtins, no UDF
    val nibbles: Array[Int] =
      hex.toArray.map(c => Integer.parseInt(String.valueOf(c), 16))
    val allSet = (0 until 4).map { i =>
      val pos = pmod(conv(substring(md5(col(keyCol).cast("string")
        .cast("binary")), 1 + 8 * i, 8), 16, 10).cast("long"),
        lit(bits.toLong)).cast("int")
      val nib = element_at(lit(nibbles),
        (pos / lit(4)).cast("int") + lit(1))
      val mask = when(pos % lit(4) === 0, lit(1))
        .when(pos % lit(4) === 1, lit(2))
        .when(pos % lit(4) === 2, lit(4)).otherwise(lit(8))
      nib.bitwiseAND(mask) =!= lit(0)
    }.reduce(_ && _)
    batch.where(!allSet)
  }

  /** The live experiment monitor as a real stream: exposure/outcome
    * rows land as files, each micro-batch folds into the mSPRT daily
    * state — the always-valid p-value is then readable at ANY moment
    * via [[msprtStateRelease]] without touching stream history. */
  def streamingMsprtMonitor(spark: SparkSession, sourceDir: String,
      schema: StructType, groupCol: String, tsCol: String,
      armCol: String, successCol: String, statePath: String,
      checkpointDir: String): StreamingQuery =
    spark.readStream.schema(schema).parquet(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(
        maintainMsprtState(statePath, groupCol, tsCol, armCol,
          successCol) _)
      .start()

  /** Exactly-once KLL upkeep behind [[foldState]]'s fence: the state
    * table is the sketch's long form (level INT, v DOUBLE) — weight
    * (and hence count) is reconstructible as Σ 2^level, so no
    * separate count row. Per batch: aggregate the batch into a partial
    * sketch (distributed), merge it with the prior state driver-side
    * (two O(cap·log n) objects — bounded whatever the stream length),
    * replace. Replays of an applied batch are no-ops. */
  def maintainKllState(statePath: String, valueCol: String,
      capacity: Int = 1024)(batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    import s.implicits._
    import graft.operators.{Kll, KllState, KllStateAggregator}
    foldState(s, statePath, batchId) { state =>
      // nulls (null input or uncastable value) must not reach the
      // primitive-Double typed aggregation: a single null row would
      // throw, and foreachBatch replays re-hit it — a poison pill that
      // permanently fails the query. try_cast because under ANSI
      // semantics a plain cast throws on malformed strings itself.
      val partial: KllState = batch
        .select(col(valueCol).try_cast("double").as("v"))
        .where(col("v").isNotNull).as[Double]
        .groupByKey(_ => 0)
        .agg(new KllStateAggregator(capacity).toColumn.name("sk"))
        .collect().headOption.map(_._2).getOrElse(Kll.zero)
      val priorRows = state.select(col("level"), col("v"))
        .as[(Int, Double)].collect()
      val prior =
        if (priorRows.isEmpty) Kll.zero
        else {
          val maxL = priorRows.iterator.map(_._1).max
          val levels = (0 to maxL).map(l =>
            priorRows.iterator.filter(_._1 == l).map(_._2).toVector)
          KllState(levels.zipWithIndex
            .map { case (xs, i) => xs.size.toLong * (1L << i) }.sum,
            levels)
        }
      val next = Kll.merge(capacity)(prior, partial)
      next.levels.zipWithIndex.flatMap { case (xs, l) =>
        xs.map(v => (l, v))
      }.toDF("level", "v")
    }
  }

  /** Streaming quantile upkeep: a file stream of raw rows keeps the
    * KLL state table current; quantile estimates read the tiny state
    * table, never the stream history. */
  def streamingKll(spark: SparkSession, sourceDir: String,
      schema: StructType, valueCol: String, statePath: String,
      checkpointDir: String, capacity: Int = 1024): StreamingQuery =
    spark.readStream.schema(schema).parquet(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(maintainKllState(statePath, valueCol, capacity) _)
      .start()

  /** Streaming sketch upkeep: a file stream of raw rows keeps the
    * Count-Min counter table current; point estimates read the tiny
    * state table, never the stream history. */
  def streamingCountMin(spark: SparkSession, sourceDir: String,
      schema: StructType, keyCol: String, statePath: String,
      checkpointDir: String, d: Int = 4, w: Int = 256): StreamingQuery =
    spark.readStream.schema(schema).parquet(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(maintainCountMinState(statePath, keyCol, d, w) _)
      .start()

  /** Exactly-once KMV/theta upkeep behind [[foldState]]'s fence: the
    * state table is the sketch's long form — one row per kept hash
    * (g STRING, h LONG). Per batch the new hashes union with the
    * prior kept set and ONE distributed typed aggregation re-truncates
    * to the k smallest per group (KMV merge ≡ reduce over the union —
    * associativity is what makes the incremental state exactly equal
    * to a from-scratch [[graft.operators.Sketches.kmvDistinct]] over
    * the full history, which the spec asserts bit-for-bit). Replays
    * of an applied batch are no-ops. Live state is O(k·|groups|)
    * regardless of stream age. */
  def maintainKmvState(statePath: String, groupCol: String,
      valueCol: String, k: Int = 64)(batch: DataFrame,
      batchId: Long): Unit = {
    val s = batch.sparkSession
    import s.implicits._
    foldState(s, statePath, batchId) { state =>
      val batchHashes = batch.where(col(valueCol).isNotNull)
        .select(col(groupCol).cast("string").as("g"),
          graft.operators.Sketches.kmvHash(col(valueCol)).as("h"))
      state.select(col("g"), col("h")).union(batchHashes)
        .as[(String, Long)].groupByKey(_._1).mapValues(_._2)
        .agg(new graft.operators.KmvAggregator(k).toColumn.name("sk"))
        .toDF("g", "sk")
        .select(col("g"), explode(col("sk")).as("h"))
    }
  }

  /** Per-group KMV distinct estimates from a maintained state table —
    * the read side of [[maintainKmvState]]; the estimate arithmetic is
    * [[graft.operators.Sketches.kmvDistinct]]'s exactly. */
  def kmvStateEstimates(spark: SparkSession, statePath: String,
      k: Int = 64): DataFrame = {
    val space = 1152921504606846976L // 2^60, the kmvHash space
    readState(spark, statePath)
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_kept"), max(col("h")).as("mx"))
      .select(col("g"), col("n_kept"),
        when(col("n_kept") >= k, col("mx")).otherwise(lit(space))
          .as("theta"))
      .select(col("g"), col("n_kept"), col("theta"),
        when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(space.toDouble) /
            col("theta").cast("double")).as("est_distinct"))
  }

  /** Exactly-once Poisson-bootstrap upkeep behind [[foldState]]'s
    * fence: the state table is the
    * [[graft.operators.AnalyticsOps.bootstrapMoments]] relation —
    * (group, replicate b, Σw, Σw·v) in exact scaled longs plus the
    * point row at b = −1 — which is elementwise-ADDITIVE (merge is
    * counter addition, like Count-Min), so after N micro-batches the
    * state is bit-identical to the batch moments of the concatenated
    * stream and the CI read matches the batch
    * `bootstrapMeanCi` exactly. The per-row Poisson coins hash only
    * the row's OWN id, so a row's weights are the same whether it
    * arrives in batch 0 or batch 9 — the property that makes the
    * resample well-defined under streaming arrival at all. Live state
    * is O((B+1)·|groups|) regardless of stream age; replays are
    * no-ops. */
  def maintainBootstrapState(statePath: String, typeCol: String,
      idCol: String, valueCol: String, b: Int = 100)(
      batch: DataFrame, batchId: Long): Unit =
    foldState(batch.sparkSession, statePath, batchId)(
      _.unionByName(graft.operators.AnalyticsOps.bootstrapMoments(
          batch, typeCol, idCol, valueCol, b))
        .groupBy(col(typeCol), col("b"))
        .agg(sum(col("nw")).as("nw"), sum(col("swl")).as("swl")))

  /** CI readout from a maintained bootstrap-moment state table — the
    * read side of [[maintainBootstrapState]]; delegates to the same
    * CI assembly the batch op uses, so the expressions (and therefore
    * every IEEE intermediate) are identical. */
  def bootstrapStateCi(spark: SparkSession, statePath: String,
      typeCol: String, b: Int = 100): DataFrame =
    graft.operators.AnalyticsOps.bootstrapCiFromMoments(
      readState(spark, statePath), typeCol, b)

  /** Streaming bootstrap upkeep: a file stream of raw rows keeps the
    * per-(group, replicate) moment table current; CI readouts touch
    * the tiny state table, never the stream history. */
  def streamingBootstrap(spark: SparkSession, sourceDir: String,
      schema: StructType, typeCol: String, idCol: String,
      valueCol: String, statePath: String, checkpointDir: String,
      b: Int = 100): StreamingQuery =
    spark.readStream.schema(schema).parquet(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(
        maintainBootstrapState(statePath, typeCol, idCol, valueCol, b) _)
      .start()

  /** Exactly-once streaming ingestion into a [[graft.catalog.LogStore]]
    * transactional table: each micro-batch commits as one table
    * version carrying the batch id as a `txn` action, so replays are
    * fenced by the table's own log (no side state) and readers always
    * see a consistent snapshot — the lakehouse streaming-sink
    * pattern. */
  def streamingLogIngest(spark: SparkSession, sourceDir: String,
      schema: StructType, store: graft.catalog.LogStore,
      checkpointDir: String): StreamingQuery =
    spark.readStream.schema(schema).parquet(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: DataFrame, id: Long) =>
        store.appendStream(df, id); ()
      }
      .start()

  /** One micro-batch of the LogStore→LogStore pipeline: absorb every
    * source commit past the target's cursor — `readChanges(last+1,
    * latest)`, O(changed rows) — through `transform` into the target
    * as ONE committed version. The cursor is the target's own `txn`
    * fence carrying the last absorbed SOURCE version, so the
    * exactly-once contract lives in the target table's log, not in
    * any consumer-side state: a crash-restarted, duplicated or
    * concurrent sync sees latest ≤ fence and is a no-op, and N syncs
    * land the target exactly where one big batch would.
    *
    * Append-only by contract: a non-insert change (delete, a merge's
    * images — including what a RESTORE emits) throws loudly, because
    * blindly appending it would corrupt the target; row-level
    * mirroring needs keys (the [[graft.catalog.LogStore.merge]] path)
    * and aggregate mirroring has the maintainAggState /
    * [[syncSumCountFromLog]] family. A source vacuumed PAST the
    * cursor also throws (readChanges' horizon refusal) — the consumer
    * must resync from a snapshot, never silently skip a gap. Commits
    * that changed no data (compaction, optimize, vacuum) advance the
    * cursor for free with no target segment.
    *
    * Returns the source version now absorbed (-1 = empty source). */
  def syncLogToLog(source: graft.catalog.LogStore,
      target: graft.catalog.LogStore,
      transform: DataFrame => DataFrame = identity): Long = {
    val last = math.max(target.lastTxn(), -1L)
    val latest = source.latestVersion()
    if (latest <= last) return last // fenced: nothing new to absorb
    val changes = source.readChanges(last + 1, latest)
    val bad = changes.where(col("_change_type") =!= "insert").limit(1)
      .select(col("_change_type"), col("_commit_version")).collect()
    if (bad.nonEmpty)
      throw new IllegalStateException(
        s"append-only log sync hit a '${bad.head.getString(0)}' change " +
          s"at source version ${bad.head.getLong(1)}: row-level " +
          "deletes/updates need a keyed merge or the aggregate " +
          "maintainers, not a blind append")
    // all absorbed commits were dataChange=false (compact / optimize /
    // vacuum): advance the cursor with a txn-only fence commit — no
    // parquet write, no junk empty segment accumulating in the target
    val moved =
      if (changes.isEmpty) target.commitFence(batchId = latest)
      else target.appendStream(
        transform(changes.drop("_change_type", "_commit_version")),
        batchId = latest)
    if (moved < 0)
      throw new IllegalStateException(
        s"target fence moved concurrently past $latest — two sync " +
          "drivers on one target")
    latest
  }

  /** Collapse a multi-version change feed to its NET per-key effect:
    * the newest event per key wins, and within one commit an
    * insert/postimage outranks a preimage/delete (a restore's
    * delete+reinsert churn of an unchanged row nets to the row — the
    * fold rule "removals before additions within a version", applied
    * per key). Returns (upserts — final row per surviving changed
    * key, feed columns stripped; deleteKeys — keys whose final event
    * is a delete). One key-partitioned window over O(changed rows).
    * A preimage can never be a key's final event alone: its commit
    * wrote the matching postimage at higher rank.
    *
    * Duplicate-key sources refuse LOUDLY: two same-key upsert events
    * in one commit (e.g. an append carrying the key twice) tie at the
    * top (version, rank), and row_number's arbitrary pick would
    * quietly land ONE of them in a mirror that then no longer equals
    * the source snapshot — the same ambiguity
    * [[graft.catalog.LogStore.applyChanges]] rejects for non-unique
    * upserts, detected here where the tie is still visible. Tied
    * DELETE events are harmless (removing a key twice nets to
    * removed) and pass. */
  def netChanges(changes: DataFrame, keyCol: String)
      : (DataFrame, DataFrame) = netChangesKeyed(changes, Seq(keyCol))

  /** [[netChanges]] over a COMPOSITE business key — the general form
    * (this repo's own latest-record-wins key is (shop, billing_date)):
    * the window partitions on every key column, ties are detected on
    * the full tuple, and deleteKeys carries all key columns. */
  def netChangesKeyed(changes: DataFrame, keyCols: Seq[String])
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    require(keyCols.nonEmpty, "netChanges needs at least one key column")
    val keys = keyCols.map(col)
    val ranked = changes.withColumn("_net_rank",
      when(col("_change_type").isin("insert", "update_postimage"),
        lit(2)).otherwise(lit(1)))
    val w = Window.partitionBy(keys: _*)
      .orderBy(col("_commit_version").desc, col("_net_rank").desc)
    val wTies = Window.partitionBy(
      keys ++ Seq(col("_commit_version"), col("_net_rank")): _*)
    val top = ranked.withColumn("_net_rn", row_number().over(w))
      .withColumn("_net_ties", count(lit(1)).over(wTies))
      .where(col("_net_rn") === 1)
    val dup = top.where(col("_net_rank") === 2 && col("_net_ties") > 1)
      .limit(1).select(keys: _*).collect()
    if (dup.nonEmpty)
      throw new IllegalArgumentException(
        s"change feed is not unique on (${keyCols.mkString(", ")}): " +
          s"key ${dup.head.toSeq.mkString("(", ", ", ")")} has tied " +
          "upsert events in one commit — a keyed mirror of a " +
          "duplicate-key source is ambiguous")
    (top.where(col("_net_rank") === 2)
      .drop("_change_type", "_commit_version", "_net_rank", "_net_rn",
        "_net_ties"),
      top.where(col("_net_rank") === 1 &&
          col("_change_type") === "delete")
        .select(keys: _*))
  }

  /** One micro-batch of KEYED CDC mirroring — the general form of
    * [[syncLogToLog]] for sources that delete, merge and restore, not
    * just append: the source's change feed past the cursor is
    * collapsed to its net per-key effect ([[netChanges]]) and applied
    * to the target in ONE fenced commit
    * ([[graft.catalog.LogStore.applyChanges]]), so after every sync
    * the target's content EQUALS the source snapshot it has reached —
    * exactly-once across restarts/replays (the cursor is the target's
    * txn fence), atomic per batch, O(changed rows) per sync, and the
    * target emits its own truthful feed (mirrors can be mirrored).
    * A source vacuumed past the cursor refuses loudly via
    * readChanges' horizon guard — resync from a snapshot, never skip.
    * Returns the source version now absorbed (-1 = empty source). */
  def mirrorLogToLog(source: graft.catalog.LogStore,
      target: graft.catalog.LogStore, keyCol: String): Long =
    mirrorLogToLogKeyed(source, target, Seq(keyCol))

  /** [[mirrorLogToLog]] over a COMPOSITE business key: net collapse
    * and apply both key on the full column tuple
    * ([[netChangesKeyed]] / [[graft.catalog.LogStore.applyChangesKeyed]]),
    * and stats pruning on the LEADING key column is preserved when it
    * is the target's statsCol. A batch of absorbed commits that all
    * changed no data (compact / optimize / vacuum) advances the
    * cursor with a txn-only fence commit — no empty segment. */
  def mirrorLogToLogKeyed(source: graft.catalog.LogStore,
      target: graft.catalog.LogStore, keyCols: Seq[String]): Long = {
    val last = math.max(target.lastTxn(), -1L)
    val latest = source.latestVersion()
    if (latest <= last) return last
    val changes = source.readChanges(last + 1, latest)
    val moved =
      if (changes.isEmpty) target.commitFence(batchId = latest)
      else {
        val (upserts, deleteKeys) = netChangesKeyed(changes, keyCols)
        target.applyChangesKeyed(upserts, deleteKeys, keyCols,
          batchId = latest)
      }
    if (moved < 0)
      throw new IllegalStateException(
        s"target fence moved concurrently past $latest — two mirror " +
          "drivers on one target")
    latest
  }

  /** The feed slice a micro-batch should absorb: rows of versions the
    * target's txn fence has not recorded yet. The NATIVE source's
    * offsets (Spark checkpoint) and the target's fence are
    * independent cursors that can skew either way — a lost checkpoint
    * replays old versions (all behind the fence → empty slice), a
    * re-pointed checkpoint can cover versions the fence already
    * absorbed (filtered here) — so exactly-once holds under ANY
    * offset/fence combination, not just the happy path. */
  private def freshSlice(batch: DataFrame,
      target: graft.catalog.LogStore): (DataFrame, Long) = {
    val cursor = math.max(target.lastTxn(), -1L)
    val fresh = batch.where(col("_commit_version") > cursor)
    val top = fresh.agg(max(col("_commit_version"))).head()
    (fresh, if (top.isNullAt(0)) -1L else top.getLong(0))
  }

  /** Continuous keyed mirroring as a StreamingQuery over the NATIVE
    * change-feed source ([[graft.sources.LogStreamProvider]]): the
    * micro-batch DATA is the source's own feed slice — offsets are
    * commit versions in the Spark checkpoint — and each slice lands
    * through [[netChangesKeyed]] + `applyChangesKeyed` in one fenced
    * target commit. The Spark checkpoint remains disposable: the
    * fence filter ([[freshSlice]]) makes a lost or re-pointed
    * checkpoint unable to double-absorb a version. */
  def mirrorLogToLogStream(spark: SparkSession,
      source: graft.catalog.LogStore, target: graft.catalog.LogStore,
      keyCol: String, checkpointDir: String,
      intervalMs: Long = 500L): StreamingQuery =
    spark.readStream.format("graft-log")
      .option("path", source.root).load()
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime(intervalMs))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val (fresh, top) = freshSlice(batch, target)
        if (top >= 0) {
          val (upserts, deleteKeys) = netChangesKeyed(fresh, Seq(keyCol))
          target.applyChangesKeyed(upserts, deleteKeys, Seq(keyCol),
            batchId = top)
        }
        ()
      }
      .start()

  /** The LogStore-as-streaming-source wiring on the NATIVE source: a
    * continuous StreamingQuery whose micro-batches ARE the source's
    * change feed — `spark.readStream.format("graft-log")` with commit
    * versions as offsets — landing each slice in the target table
    * exactly once through `transform`. Progress is double-guarded:
    * the Spark checkpoint schedules (restart resumes mid-history from
    * the stored version offset), and the target's txn fence decides
    * (a lost/re-pointed checkpoint cannot double-absorb — the fence
    * filter drops already-landed versions, and a full replay is a
    * no-op). A vacuum past the offset or a non-insert change surfaces
    * as a stream error (StreamingQueryException), never a silent
    * gap. */
  def logToLogStream(spark: SparkSession,
      source: graft.catalog.LogStore, target: graft.catalog.LogStore,
      checkpointDir: String,
      transform: DataFrame => DataFrame = identity,
      intervalMs: Long = 500L): StreamingQuery =
    spark.readStream.format("graft-log")
      .option("path", source.root).load()
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime(intervalMs))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val (fresh, top) = freshSlice(batch, target)
        if (top >= 0) {
          val bad = fresh.where(col("_change_type") =!= "insert")
            .limit(1).select(col("_change_type"), col("_commit_version"))
            .collect()
          if (bad.nonEmpty)
            throw new IllegalStateException(
              s"append-only log sync hit a '${bad.head.getString(0)}' " +
                s"change at source version ${bad.head.getLong(1)}: " +
                "row-level deletes/updates need the keyed mirror " +
                "(mirrorLogToLogStream), not a blind append")
          target.appendStream(
            transform(fresh.drop("_change_type", "_commit_version")),
            batchId = top)
        }
        ()
      }
      .start()

  /** Streaming KMV upkeep: a file stream of raw rows keeps the
    * per-group theta-sketch state table current; distinct estimates
    * (and theta set algebra) read the tiny state table, never the
    * stream history. */
  def streamingKmv(spark: SparkSession, sourceDir: String,
      schema: StructType, groupCol: String, valueCol: String,
      statePath: String, checkpointDir: String,
      k: Int = 64): StreamingQuery =
    spark.readStream.schema(schema).parquet(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(maintainKmvState(statePath, groupCol, valueCol, k) _)
      .start()

  /** Streaming distinct-count upkeep: a file stream of raw rows keeps
    * the per-group HLL state table current via [[maintainHllState]]. */
  def streamingHll(spark: SparkSession, sourceDir: String,
      schema: StructType, groupCol: String, valueCol: String,
      statePath: String, checkpointDir: String): StreamingQuery =
    spark.readStream.schema(schema).parquet(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(maintainHllState(statePath, groupCol, valueCol) _)
      .start()

  /** Streaming CDC apply: a file stream of snapshotDiff rows keeps the
    * aggregate state table current without ever rescanning history. */
  def streamingAggMaintenance(spark: SparkSession, sourceDir: String,
      diffSchema: StructType, key: String, value: String,
      statePath: String, checkpointDir: String): StreamingQuery =
    spark.readStream.schema(diffSchema).parquet(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(maintainAggState(statePath, key, value) _)
      .start()

  /** Streaming SCD2: the incremental twin of
    * `RelationalOps.scd2Intervals`. Per key, `flatMapGroupsWithState`
    * keeps exactly ONE open run in the state store (O(#keys) state,
    * independent of stream age) and emits an interval the moment a
    * state-changing event closes it — so downstream consumers see
    * dimension history in append mode without re-reading the log.
    *
    * Events are sorted by `(ts, state)` WITHIN each micro-batch (the
    * iterator itself is unordered); across batches the builder assumes
    * per-key event-time order, the same contract as the batch builder's
    * input — for an out-of-order feed, front it with a watermarked
    * buffer or the streaming dedup. Only CLOSED intervals are emitted;
    * the open run per key lives in state until a later event (or an
    * end-of-stream flush by the caller) closes it. */
  def streamingScd2(spark: SparkSession, sourceDir: String,
      schema: StructType): Dataset[Scd2Closed] = {
    import spark.implicits._
    spark.readStream.schema(schema).parquet(sourceDir)
      .select(col("user_id").cast("long"), col("ts").cast("timestamp"),
        col("event_type"))
      .as[(Long, java.sql.Timestamp, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, java.sql.Timestamp, String)],
            st: GroupState[Scd2Run]) =>
          val sorted = rows.toSeq.sortBy(r => (r._2.getTime, r._3))
          val out = Seq.newBuilder[Scd2Closed]
          var cur = st.getOption
          sorted.foreach { case (_, ts, ev) =>
            cur match {
              case Some(c) if c.state == ev =>
                cur = Some(c.copy(nEvents = c.nEvents + 1L))
              case Some(c) =>
                out += Scd2Closed(uid, c.state, c.validFrom, ts, c.nEvents)
                cur = Some(Scd2Run(ev, ts, 1L))
              case None =>
                cur = Some(Scd2Run(ev, ts, 1L))
            }
          }
          cur.foreach(st.update)
          out.result().iterator
      }
  }

  /** Streaming twin of [[graft.operators.RelationalOps.ewmaSmooth]]
    * (α = ½, row-lag window truncated at `span`): per key, the state
    * store keeps only the last `span` values — O(#keys · span),
    * independent of stream age — and every arriving point emits its
    * smoothed value in append mode.
    *
    * Bit parity with the batch operator by the same construction that
    * makes the batch one exact: numerator and denominator are long
    * sums of 2^(span−1−j)-weighted values (integer addition is
    * order-free), and the ONLY floating-point op is the final
    * division. Points are sorted by date WITHIN each micro-batch (the
    * group iterator is unordered); across batches the stream assumes
    * per-key date order — the contract of an append-only daily
    * rollup feed. Input schema: (user_id long, d date, n long). */
  def streamingEwma(spark: SparkSession, sourceDir: String,
      schema: StructType, span: Int = 16,
      maxFilesPerTrigger: Int = 1): Dataset[EwmaPoint] = {
    require(span >= 1 && span <= 32,
      s"span must be in [1, 32] (weights are 2^(span-1-j) longs), got $span")
    import spark.implicits._
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)
      .select(col("user_id").cast("long"), col("d").cast("date"),
        col("n").cast("long"))
      .as[(Long, java.sql.Date, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, java.sql.Date, Long)],
            st: GroupState[EwmaState]) =>
          val sorted = rows.toSeq.sortBy(_._2.getTime)
          var buf = st.getOption.map(_.values.toVector)
            .getOrElse(Vector.empty[Long])
          val out = Seq.newBuilder[EwmaPoint]
          sorted.foreach { case (_, d, n) =>
            buf = (buf :+ n).takeRight(span)
            var num = 0L
            var den = 0L
            var j = 0
            val it = buf.reverseIterator // newest first: j rows back
            while (it.hasNext) {
              val w = 1L << (span - 1 - j)
              num += it.next() * w
              den += w
              j += 1
            }
            out += EwmaPoint(uid, d, n, num.toDouble / den.toDouble)
          }
          st.update(EwmaState(buf))
          out.result().iterator
      }
  }

  /** Run a streaming frame to completion against a static source (memory
    * sink), returning the materialized result — the local smoke path. */
  def runToMemory(spark: SparkSession, streaming: DataFrame,
      name: String, outputMode: String = "complete"): DataFrame = {
    val q: StreamingQuery = streaming.writeStream
      .outputMode(outputMode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }
}
