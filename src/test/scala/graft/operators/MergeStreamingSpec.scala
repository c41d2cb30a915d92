package graft.operators

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.GraftFunctions
import graft.streaming.StreamingOps

class MergeStreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("S5 merge: updates replace by key, others survive") {
    val cur = Seq(("a", 1, "pending"), ("b", 2, "pending"), ("c", 3, "pending"))
      .toDF("shop", "views", "status")
    val upd = Seq(("a", 1, "success"), ("c", 3, "failed"))
      .toDF("shop", "views", "status")
    val out = MergeOps.mergeByKey(cur, upd, Seq("shop"))
      .as[(String, Int, String)].collect().toSet
    assert(out == Set(("a", 1, "success"), ("b", 2, "pending"),
      ("c", 3, "failed")))
  }

  test("streaming: watermarked tumbling agg matches the batch twin") {
    val dir = Files.createTempDirectory("graft-stream").toString + "/events"
    val events = Seq(
      (0L, Timestamp.valueOf("2024-01-15 10:05:00"), "view"),
      (1L, Timestamp.valueOf("2024-01-15 10:55:00"), "view"),
      (2L, Timestamp.valueOf("2024-01-15 11:05:00"), "view"),
      (3L, Timestamp.valueOf("2024-01-15 11:10:00"), "click")
    ).toDF("event_id", "ts", "event_type")
    events.write.parquet(dir)

    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("event_type", StringType)))
    val streaming = StreamingOps.streamingTumblingCounts(spark, dir, schema)
    val got = StreamingOps.runToMemory(spark, streaming, "stream_out")
      .select("window_start", "event_type", "n")
      .as[(Timestamp, String, Long)].collect().toSet

    val batch = StreamingOps.tumblingCounts(events)
      .as[(Timestamp, String, Long)].collect().toSet
    assert(got == batch)
    assert(batch == Set(
      (Timestamp.valueOf("2024-01-15 10:00:00"), "view", 2L),
      (Timestamp.valueOf("2024-01-15 11:00:00"), "view", 1L),
      (Timestamp.valueOf("2024-01-15 11:00:00"), "click", 1L)))
  }

  test("streaming OHLC equals the batch resample twin") {
    val dir = Files.createTempDirectory("graft-ohlc").toString + "/events"
    val events = Seq(
      (0L, Timestamp.valueOf("2024-01-15 10:05:00"), "view", 3.0),
      (1L, Timestamp.valueOf("2024-01-15 10:55:00"), "view", 9.0),
      (2L, Timestamp.valueOf("2024-01-15 10:20:00"), "view", 1.0),
      // equal-ts tie: event_id must break open/close identically
      (4L, Timestamp.valueOf("2024-01-15 11:00:00"), "click", 5.0),
      (3L, Timestamp.valueOf("2024-01-15 11:00:00"), "click", 2.0)
    ).toDF("event_id", "ts", "event_type", "value")
    events.write.parquet(dir)

    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val got = StreamingOps.runToMemory(spark,
        StreamingOps.streamingOhlc(spark, dir, schema), "ohlc_out")
      .select("bucket", "event_type", "n", "open", "high", "low",
        "close", "vsum")
      .as[(Timestamp, String, Long, Double, Double, Double, Double, Double)]
      .collect().toSet

    val batch = RelationalOps.resampleOhlc(events, unit = "hour")
      .select("bucket", "event_type", "n", "open", "high", "low",
        "close", "vsum")
      .as[(Timestamp, String, Long, Double, Double, Double, Double, Double)]
      .collect().toSet
    assert(got == batch)
    assert(batch == Set(
      (Timestamp.valueOf("2024-01-15 10:00:00"), "view", 3L,
        3.0, 9.0, 1.0, 9.0, 13.0),
      (Timestamp.valueOf("2024-01-15 11:00:00"), "click", 2L,
        2.0, 5.0, 2.0, 5.0, 7.0)))
  }

  test("stream-static enrichment equals the batch join (missing dim " +
      "keys null out)") {
    val dir = Files.createTempDirectory("graft-enrich").toString + "/events"
    val events = Seq(
      (0L, Timestamp.valueOf("2024-01-15 10:05:00"), 1L),
      (1L, Timestamp.valueOf("2024-01-15 10:06:00"), 2L),
      (2L, Timestamp.valueOf("2024-01-15 10:07:00"), 99L) // no dim row
    ).toDF("event_id", "ts", "user_id")
    events.write.parquet(dir)
    val dim = Seq((1L, "gold"), (2L, "silver"), (3L, "bronze"))
      .toDF("user_id", "tier")

    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType)))
    val got = StreamingOps.runToMemory(spark,
        StreamingOps.streamingStaticEnrich(spark, dir, schema, dim),
        "enrich_out", outputMode = "append")
      .select("event_id", "user_id", "tier")
      .as[(Long, Long, Option[String])].collect().toSet

    val batch = events.join(broadcast(dim), Seq("user_id"), "left")
      .select("event_id", "user_id", "tier")
      .as[(Long, Long, Option[String])].collect().toSet
    assert(got == batch)
    assert(got == Set((0L, 1L, Some("gold")), (1L, 2L, Some("silver")),
      (2L, 99L, None)))
  }

  test("vec_dot registered for SQL users") {
    GraftFunctions.register(spark)
    val got = spark.sql(
      "SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .as[Double].head()
    assert(got == 11.0)
  }

  test("pipeline ops: sessionize splits on gaps; samplers deterministic") {
    val ev = Seq(
      (0L, Timestamp.valueOf("2024-01-15 10:00:00"), 1L),
      (1L, Timestamp.valueOf("2024-01-15 10:10:00"), 1L),
      (2L, Timestamp.valueOf("2024-01-15 11:00:00"), 1L), // 50 min gap -> new
      (3L, Timestamp.valueOf("2024-01-15 10:00:00"), 2L)
    ).toDF("event_id", "ts", "user_id")
    val sess = PipelineOps.sessionize(ev, gapMinutes = 30)
      .select("user_id", "session_idx", "n_events")
      .as[(Long, Long, Long)].collect().toSet
    assert(sess == Set((1L, 1L, 2L), (1L, 2L, 1L), (2L, 1L, 1L)))

    val docs = (0L until 100L).map(i => (i, s"lang${i % 3}"))
      .toDF("doc_id", "lang")
    val s1 = PipelineOps.hashSample(docs, "doc_id", "14")
      .as[(Long, String)].collect().toSet
    val s2 = PipelineOps.hashSample(docs, "doc_id", "14")
      .as[(Long, String)].collect().toSet
    assert(s1 == s2 && s1.nonEmpty && s1.size < 100)
    val strat = PipelineOps.stratifiedSample(docs, "lang", "doc_id", 5)
    assert(strat.groupBy("lang").count().as[(String, Long)]
      .collect().forall(_._2 == 5))
  }

  test("sourceMix: sqrt temperature flattens skew, seats sum to totalN, " +
      "targets cap at group size, deterministic") {
    // 160/40/10 split: proportional 100-seat shares would be 76/19/5,
    // sqrt shares ~61/30/15 — low-resource groups upweighted
    val docs = ((0L until 160L).map(i => (i, "big")) ++
      (160L until 200L).map(i => (i, "mid")) ++
      (200L until 210L).map(i => (i, "tiny")))
      .toDF("doc_id", "lang")
    val out = PipelineOps.sourceMix(docs, "lang", "doc_id", totalN = 100)
    val perGroup = out.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    // sqrt quotas 57.1/28.6/14.3: seats 57/29/14, tiny caps at its 10
    // docs (no redistribution — the shortfall is visible)
    assert(perGroup == Map("big" -> 57L, "mid" -> 29L, "tiny" -> 10L))
    assert(perGroup("big") < 76 && perGroup("mid") > 19,
      "sqrt flattens the head group, upweights low-resource vs 76/19/5")
    val again = PipelineOps.sourceMix(docs, "lang", "doc_id", totalN = 100)
      .as[(String, Long, Long)].collect().toSet
    assert(again == out.as[(String, Long, Long)].collect().toSet)

    // capacity-starved group: target caps, total falls short visibly
    val starved = PipelineOps.sourceMix(
      docs.where($"doc_id" < 162), "lang", "doc_id", totalN = 100)
    val sg = starved.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    assert(sg("mid") == 2L && !sg.contains("tiny"),
      "capped groups deliver what they have; empty groups vanish")
  }
}
