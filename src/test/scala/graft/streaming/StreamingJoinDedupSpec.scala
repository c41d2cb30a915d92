package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class StreamingJoinDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType)))

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streamingDedup drops in-watermark duplicate event ids") {
    val dir = Files.createTempDirectory("graft-sdedup").toString + "/ev"
    Seq(
      (1L, ts("2024-01-15 10:00:00"), 7L, "view"),
      (1L, ts("2024-01-15 10:00:30"), 7L, "view"), // dup delivery
      (2L, ts("2024-01-15 10:01:00"), 7L, "click"),
      (2L, ts("2024-01-15 10:05:00"), 7L, "click"), // dup delivery
      (3L, ts("2024-01-15 11:00:00"), 8L, "view")
    ).toDF("event_id", "ts", "user_id", "event_type").write.parquet(dir)

    val out = StreamingOps.runToMemory(spark,
        StreamingOps.streamingDedup(spark, dir, schema, "event_id", "ts"),
        "sdedup_out", outputMode = "append")
      .select("event_id").as[Long].collect().sorted
    assert(out === Array(1L, 2L, 3L))
  }

  test("stream-stream interval join attributes purchases to recent views") {
    val dir = Files.createTempDirectory("graft-sjoin").toString + "/ev"
    Seq(
      (10L, ts("2024-01-15 10:00:00"), 1L, "view"),
      (11L, ts("2024-01-15 10:20:00"), 1L, "view"),
      (12L, ts("2024-01-15 10:30:00"), 1L, "purchase"), // joins views 10,11
      (13L, ts("2024-01-15 09:00:00"), 2L, "view"),
      (14L, ts("2024-01-15 12:00:00"), 2L, "purchase"), // view too old: no match
      (15L, ts("2024-01-15 12:30:00"), 3L, "purchase")  // no view at all
    ).toDF("event_id", "ts", "user_id", "event_type").write.parquet(dir)

    val out = StreamingOps.runToMemory(spark,
        StreamingOps.streamingViewPurchaseJoin(spark, dir, schema),
        "sjoin_out", outputMode = "append")
      .select("purchase_id", "view_id").as[(Long, Long)].collect().toSet
    assert(out === Set((12L, 10L), (12L, 11L)))
  }

  test("streaming session windows equal the batch session_window twin") {
    val dir = Files.createTempDirectory("graft-ssess").toString + "/ev"
    val rows = Seq(
      (1L, ts("2024-01-15 10:00:00"), 7L, "view"),
      (2L, ts("2024-01-15 10:10:00"), 7L, "view"),  // same session
      (3L, ts("2024-01-15 10:40:00"), 7L, "click"), // extends it (<30m)
      (4L, ts("2024-01-15 12:00:00"), 7L, "view"),  // new session
      (5L, ts("2024-01-15 10:05:00"), 8L, "view"),
      // watermark sentinel: far-future event closes every earlier
      // session (append mode only emits watermark-closed windows);
      // its own session stays open and must NOT emit
      (6L, ts("2024-01-16 09:00:00"), 99L, "view")
    ).toDF("event_id", "ts", "user_id", "event_type")
    rows.write.parquet(dir)

    val streamed = StreamingOps.runToMemory(spark,
      StreamingOps.streamingSessionCounts(spark, dir, schema),
      "ssess_out", outputMode = "append")
      .select("user_id", "session_start", "session_end", "n_events")
      .as[(Long, Timestamp, Timestamp, Long)].collect().toSet

    val batch = rows
      .groupBy($"user_id",
        org.apache.spark.sql.functions.session_window($"ts", "30 minutes")
          .as("w"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_events"))
      .select($"user_id", $"w.start".as("session_start"),
        $"w.end".as("session_end"), $"n_events")
      .as[(Long, Timestamp, Timestamp, Long)].collect().toSet

    // every watermark-closed session matches the batch twin; the
    // sentinel's still-open session is correctly withheld
    assert(streamed == batch.filter(_._1 != 99L))
    // shape check: user 7 has two sessions (3 events, then 1)
    assert(batch.count(_._1 == 7L) == 2)
    assert(batch.filter(_._1 == 7L).map(_._4).toSeq.sorted == Seq(1L, 3L))
  }

  test("idempotent batch append: replayed batchId writes exactly once") {
    val store = new graft.catalog.LogStore(spark,
      Files.createTempDirectory("graft-idem").toString + "/t")
    val b0 = Seq((1L, 7L), (2L, 7L)).toDF("event_id", "user_id")

    store.appendStream(b0, 0L)
    store.appendStream(b0, 0L) // micro-batch replay after a simulated failure
    assert(store.read().count() == 2 && store.lastTxn() == 0L,
      "replay must be a no-op")

    store.appendStream(Seq((3L, 8L)).toDF("event_id", "user_id"), 1L)
    assert(store.read().count() == 3) // next batch lands
  }

  test("streamingScd2 closed intervals equal the batch builder's") {
    val dir = Files.createTempDirectory("graft-sscd2").toString + "/ev"
    val rows = Seq(
      (1L, ts("2024-01-15 10:00:00"), 7L, "view"),
      (2L, ts("2024-01-15 10:05:00"), 7L, "view"),   // same run
      (3L, ts("2024-01-15 10:10:00"), 7L, "click"),  // closes view run
      (4L, ts("2024-01-15 10:20:00"), 7L, "view"),   // closes click run
      (5L, ts("2024-01-15 09:00:00"), 8L, "purchase"),
      (6L, ts("2024-01-15 09:30:00"), 8L, "view"),   // closes purchase
      (7L, ts("2024-01-15 11:00:00"), 9L, "view")    // stays open: no emit
    )
    rows.toDF("event_id", "ts", "user_id", "event_type").write.parquet(dir)

    val streamed = StreamingOps.runToMemory(spark,
        StreamingOps.streamingScd2(spark, dir, schema).toDF(),
        "sscd2_out", outputMode = "append")
      .select("user_id", "state", "valid_from", "valid_to", "n_events")
      .as[(Long, String, Timestamp, Timestamp, Long)].collect().toSet

    val batch = graft.operators.RelationalOps.scd2Intervals(
        rows.toDF("event_id", "ts", "user_id", "event_type")
          .select("user_id", "ts", "event_type"),
        "user_id", "ts", "event_type")
      .where($"valid_to".isNotNull) // the stream emits closed runs only
      .select("user_id", "state", "valid_from", "valid_to", "n_events")
      .as[(Long, String, Timestamp, Timestamp, Long)].collect().toSet

    assert(streamed === batch)
    assert(streamed.size === 3) // view→click, click→view (u7), purchase (u8)
  }

  test("streamingEwma across micro-batches equals the batch ewmaSmooth " +
      "bit-for-bit, with state truncated at the span") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-sewma").toString + "/daily"
    def day(i: Int) = java.sql.Date.valueOf(f"2024-02-${i}%02d")
    // two keys, 12 days each, values chosen to exercise ramp-up,
    // truncation (span 4 < 12), and the cross-batch state carry
    val all = (1 to 12).flatMap(i =>
      Seq((7L, day(i), i.toLong), (8L, day(i), (i * 3 % 7).toLong)))
    val dailySchema = StructType(Seq(
      StructField("user_id", LongType), StructField("d", DateType),
      StructField("n", LongType)))
    // chunked by date into two files → two micro-batches at
    // maxFilesPerTrigger=1: the second batch MUST resume from state
    all.filter(_._2.before(day(7))).toDF("user_id", "d", "n")
      .coalesce(1).write.parquet(dir)
    all.filterNot(_._2.before(day(7))).toDF("user_id", "d", "n")
      .coalesce(1).write.mode("append").parquet(dir)

    val streamed = StreamingOps.runToMemory(spark,
        StreamingOps.streamingEwma(spark, dir, dailySchema, span = 4)
          .toDF(),
        "sewma_out", outputMode = "append")
      .select("user_id", "d", "n", "ewma")
      .as[(Long, java.sql.Date, Long, Double)].collect().toSet

    val batch = graft.operators.RelationalOps.ewmaSmooth(
        all.toDF("user_id", "d", "n"), "user_id", "d", "n", span = 4)
      .select(col("user_id"), col("d"), col("n"), col("ewma"))
      .as[(Long, java.sql.Date, Long, Double)].collect().toSet

    assert(streamed === batch) // exact double equality by construction
    assert(streamed.size === 24)
  }

  test("streamingLogIngest: file stream lands just the source rows") {
    val src = Files.createTempDirectory("graft-sapp").toString + "/ev"
    val ckpt = Files.createTempDirectory("graft-sapp-ck").toString
    Seq(
      (1L, ts("2024-01-15 10:00:00"), 7L, "view"),
      (2L, ts("2024-01-15 10:01:00"), 7L, "click")
    ).toDF("event_id", "ts", "user_id", "event_type").write.parquet(src)
    val store = new graft.catalog.LogStore(spark,
      Files.createTempDirectory("graft-sapp-st").toString + "/t")

    val q = StreamingOps.streamingLogIngest(spark, src, schema, store, ckpt)
    q.processAllAvailable(); q.stop()

    val got = store.read().select("event_id").as[Long].collect().toSet
    assert(got == Set(1L, 2L))

    // restart on the same checkpoint: nothing re-lands
    val q2 = StreamingOps.streamingLogIngest(spark, src, schema, store, ckpt)
    q2.processAllAvailable(); q2.stop()
    assert(store.read().count() == 2,
      "checkpoint restart must not duplicate rows")
  }
}
