package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.catalog.LogStore
import graft.operators.RelationalOps

class StreamingCdcSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def agg(df: DataFrame) =
    df.groupBy(col("grp")).agg(count(lit(1)).as("cnt"),
      sum(col("v").cast(DecimalType(18, 4))).as("sm"))

  /** A maintainer's state table is a LogStore table: the caller seeds
    * it with one plain append (no fence yet). */
  private def seed(path: String, df: DataFrame): Unit = {
    new LogStore(spark, path).append(df); ()
  }

  private def state(path: String): DataFrame =
    new LogStore(spark, path).read()

  private def stateOf(path: String): Set[(String, Long, Double)] =
    state(path)
      .select(col("grp"), col("cnt"), col("sm").cast("double"))
      .as[(String, Long, Double)].collect().toSet

  test("streaming CDC apply: state after N micro-batches equals a full " +
      "recompute of the final snapshot; replayed batches are no-ops") {
    val base = Files.createTempDirectory("graft-cdc").toString
    val (srcDir, statePath, ckpt) =
      (s"$base/diffs", s"$base/state", s"$base/ckpt")

    val s0 = Seq((1L, "a", 1.5), (2L, "a", 2.5), (3L, "b", 4.0))
      .toDF("id", "grp", "v")
    val s1 = Seq((1L, "a", 1.5), (2L, "b", 2.5), (4L, "c", 8.0))
      .toDF("id", "grp", "v") // 2 migrates, 3 deleted, 4 inserted
    val s2 = Seq((1L, "a", 9.5), (2L, "b", 2.5), (4L, "c", 8.0),
      (5L, "c", 0.25)).toDF("id", "grp", "v") // 1 repriced, 5 inserted

    def diff(a: DataFrame, b: DataFrame) = RelationalOps
      .snapshotDiff(a, b, keys = Seq("id"), compare = Seq("grp", "v"))

    // seed: the aggregate of the initial snapshot, no fence yet
    seed(statePath, agg(s0))

    val diffSchema = diff(s0, s1).schema
    diff(s0, s1).write.parquet(srcDir)
    val q = StreamingOps.streamingAggMaintenance(spark, srcDir,
      diffSchema, key = "grp", value = "v", statePath, ckpt)
    try {
      q.processAllAvailable()
      val direct1 = agg(s1).select(col("grp"), col("cnt"),
        col("sm").cast("double")).as[(String, Long, Double)].collect().toSet
      assert(stateOf(statePath) === direct1)

      diff(s1, s2).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      val direct2 = agg(s2).select(col("grp"), col("cnt"),
        col("sm").cast("double")).as[(String, Long, Double)].collect().toSet
      assert(stateOf(statePath) === direct2)
    } finally q.stop()

    // at-least-once replay: re-delivering an old batch must not
    // double-apply (the state table's txn fence stops it)
    StreamingOps.maintainAggState(statePath, "grp", "v")(diff(s0, s1), 0L)
    assert(stateOf(statePath) ===
      agg(s2).select(col("grp"), col("cnt"), col("sm").cast("double"))
        .as[(String, Long, Double)].collect().toSet)
  }

  test("streaming CDC apply: an EMPTY seed state takes batch 0") {
    val statePath =
      Files.createTempDirectory("graft-cdc-empty").toString + "/state"
    val s0 = Seq.empty[(Long, String, Double)].toDF("id", "grp", "v")
    val s1 = Seq((1L, "a", 1.5), (2L, "a", 2.5), (3L, "b", 4.0))
      .toDF("id", "grp", "v")
    seed(statePath, agg(s0))
    StreamingOps.maintainAggState(statePath, "grp", "v")(RelationalOps
      .snapshotDiff(s0, s1, keys = Seq("id"), compare = Seq("grp", "v")),
      0L)
    assert(stateOf(statePath) === Set(("a", 2L, 4.0), ("b", 1L, 4.0)))
    assert(new LogStore(spark, statePath).lastTxn() == 0L)
  }

  test("foldState: a step that fails leaves the snapshot and the fence " +
      "unchanged; the replay applies the batch exactly once") {
    val statePath =
      Files.createTempDirectory("graft-fold-crash").toString + "/state"
    val store = new LogStore(spark, statePath)
    def rows() = state(statePath).as[(String, Long)].collect().toSet
    def bump(df: DataFrame) = df.withColumn("n", col("n") + 1L)
    seed(statePath, Seq(("a", 1L), ("b", 5L)).toDF("g", "n"))
    StreamingOps.foldState(spark, statePath, 0L)(bump)
    val (v0, rows0) = (store.latestVersion(), rows())
    assert(rows0 == Set(("a", 2L), ("b", 6L)) && store.lastTxn() == 0L)

    // the step throws on the driver, before any write
    intercept[IllegalStateException] {
      StreamingOps.foldState(spark, statePath, 1L)(_ =>
        throw new IllegalStateException("step failed"))
    }
    // the step's plan fails inside the write job, after it started
    intercept[Exception] {
      StreamingOps.foldState(spark, statePath, 1L)(_.withColumn("n",
        when(col("g") === "b", raise_error(lit("write failed")))
          .otherwise(col("n")).cast("long")))
    }
    assert(store.latestVersion() == v0, "a failed step commits nothing")
    assert(store.lastTxn() == 0L && rows() == rows0)

    // the replay of batch 1 lands once; a second replay is fenced
    StreamingOps.foldState(spark, statePath, 1L)(bump)
    StreamingOps.foldState(spark, statePath, 1L)(bump)
    assert(rows() == Set(("a", 3L), ("b", 7L)))
    assert(store.lastTxn() == 1L && store.latestVersion() == v0 + 1)
  }

  test("streaming Count-Min: state after N micro-batches equals the " +
      "batch sketch of the whole stream; replay is fenced") {
    import graft.operators.Sketches
    val base = Files.createTempDirectory("graft-cm").toString
    val (srcDir, statePath, ckpt) =
      (s"$base/rows", s"$base/state", s"$base/ckpt")

    val b0 = ((1 to 40).map(_ => "x") ++ (1 to 9).map(_ => "y"))
      .toDF("k")
    val b1 = ((1 to 25).map(_ => "y") ++ (1 to 3).map(_ => "z"))
      .toDF("k")
    def counters(df: DataFrame): Set[(Int, Long, Long)] =
      Sketches.countMin(df, col("k"))
        .as[(Int, Long, Long)].collect().toSet

    // seed: empty counter state, no fence yet
    seed(statePath, Sketches.countMin(b0.limit(0), col("k")))

    b0.write.parquet(srcDir)
    val q = StreamingOps.streamingCountMin(spark, srcDir,
      b0.schema, keyCol = "k", statePath, ckpt)
    try {
      q.processAllAvailable()
      b1.write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      val st = state(statePath).as[(Int, Long, Long)].collect().toSet
      assert(st === counters(b0.unionByName(b1)),
        "merged stream state must equal the batch sketch of all rows")
    } finally q.stop()

    // replayed micro-batch is a no-op under the txn fence
    StreamingOps.maintainCountMinState(statePath, "k")(b0, 0L)
    val after = state(statePath).as[(Int, Long, Long)].collect().toSet
    assert(after === counters(b0.unionByName(b1)))
  }

  test("streaming DP counts: release over maintained state after N " +
      "micro-batches is bit-identical to the batch release of the " +
      "whole stream; replay is fenced") {
    import graft.operators.AnalyticsOps
    val base = Files.createTempDirectory("graft-dp").toString
    val (srcDir, statePath, ckpt) =
      (s"$base/rows", s"$base/state", s"$base/ckpt")

    val b0 = ((1 to 40).map(_ => "x") ++ (1 to 9).map(_ => "y")).toDF("g")
    val b1 = ((1 to 25).map(_ => "y") ++ (1 to 3).map(_ => "z")).toDF("g")
    def batchRelease(df: DataFrame): Set[(String, Long, Long, Long)] =
      AnalyticsOps.dpNoisyCounts(df, "g", salt = "spec")
        .as[(String, Long, Long, Long)].collect().toSet

    // seed: empty count state, no fence yet
    seed(statePath, Seq.empty[(String, Long)].toDF("g", "n"))

    b0.write.parquet(srcDir)
    val q = StreamingOps.streamingDpCounts(spark, srcDir,
      b0.schema, groupCol = "g", statePath, ckpt)
    try {
      q.processAllAvailable()
      b1.write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      val released = StreamingOps
        .dpCountStateRelease(spark, statePath, salt = "spec")
        .as[(String, Long, Long, Long)].collect().toSet
      assert(released === batchRelease(b0.unionByName(b1)),
        "release over maintained counts must equal the batch release " +
          "of all rows — same noise, same floor, same columns")
    } finally q.stop()

    // replayed micro-batch is a no-op under the txn fence: the
    // true counts (and hence the released values) must not move
    StreamingOps.maintainDpCountState(statePath, "g")(b0, 0L)
    val after = StreamingOps
      .dpCountStateRelease(spark, statePath, salt = "spec")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(after === batchRelease(b0.unionByName(b1)))
  }

  test("streaming PSI: release over maintained bin counts after N " +
      "micro-batches is bit-identical to the batch PSI of the whole " +
      "stream; replay is fenced") {
    import graft.operators.AnalyticsOps
    val base = Files.createTempDirectory("graft-psi").toString
    val statePath = s"$base/state"

    // batches shift the bin mix between slices, and b1 introduces a
    // bin b0 never saw (the add-one smoothing path)
    val b0 = (Seq.fill(30)(("a", true)) ++ Seq.fill(10)(("b", true)) ++
      Seq.fill(12)(("a", false)) ++ Seq.fill(18)(("b", false)))
      .toDF("bin", "is_ref")
    val b1 = (Seq.fill(5)(("b", true)) ++ Seq.fill(20)(("c", false)) ++
      Seq.fill(7)(("a", false))).toDF("bin", "is_ref")
    def batchPsi(df: DataFrame): Set[(String, Long, Long, Double, Double, Double)] =
      AnalyticsOps.psiDrift(df, "bin", "is_ref")
        .as[(String, Long, Long, Double, Double, Double)].collect().toSet

    seed(statePath,
      Seq.empty[(String, Long, Long)].toDF("bin", "c_ref", "c_cur"))

    StreamingOps.maintainPsiState(statePath, "bin", "is_ref")(b0, 0L)
    StreamingOps.maintainPsiState(statePath, "bin", "is_ref")(b1, 1L)
    val released = StreamingOps.psiStateRelease(spark, statePath)
      .as[(String, Long, Long, Double, Double, Double)].collect().toSet
    assert(released === batchPsi(b0.unionByName(b1)),
      "PSI over maintained bin counts must equal the batch PSI of " +
        "all rows — same smoothing, same log grid, same total")

    // replayed micro-batch is a no-op under the txn fence
    StreamingOps.maintainPsiState(statePath, "bin", "is_ref")(b0, 1L)
    val after = StreamingOps.psiStateRelease(spark, statePath)
      .as[(String, Long, Long, Double, Double, Double)].collect().toSet
    assert(after === batchPsi(b0.unionByName(b1)))
  }

  test("one maintained bin table serves BOTH drift readouts: the JSD " +
      "release over PSI-maintained state is bit-identical to the " +
      "batch JSD of the whole stream") {
    import graft.operators.AnalyticsOps
    val base = Files.createTempDirectory("graft-jsd").toString
    val statePath = s"$base/state"
    val b0 = (Seq.fill(30)(("a", true)) ++ Seq.fill(10)(("b", true)) ++
      Seq.fill(12)(("a", false)) ++ Seq.fill(18)(("b", false)))
      .toDF("bin", "is_ref")
    val b1 = (Seq.fill(5)(("b", true)) ++ Seq.fill(20)(("c", false)) ++
      Seq.fill(7)(("a", false))).toDF("bin", "is_ref")
    seed(statePath,
      Seq.empty[(String, Long, Long)].toDF("bin", "c_ref", "c_cur"))
    StreamingOps.maintainPsiState(statePath, "bin", "is_ref")(b0, 0L)
    StreamingOps.maintainPsiState(statePath, "bin", "is_ref")(b1, 1L)
    val released = AnalyticsOps.jsdFromBinCounts(
        state(statePath)
          .select(col("bin"), col("c_ref"), col("c_cur")))
      .as[(String, Long, Long, Double, Double, Double, Double)]
      .collect().toSet
    val batch = AnalyticsOps.jsdDrift(b0.unionByName(b1), "bin",
        "is_ref")
      .as[(String, Long, Long, Double, Double, Double, Double)]
      .collect().toSet
    assert(released === batch,
      "jsdFromBinCounts over the PSI maintainer's state must equal " +
        "the batch JSD — one state table, two drift readouts")
  }

  test("streaming mSPRT: the always-valid readout over maintained " +
      "daily state after N micro-batches is bit-identical to the " +
      "batch monitor of the whole stream; replay is fenced") {
    import graft.operators.AnalyticsOps
    val base = Files.createTempDirectory("graft-msprt").toString
    val statePath = s"$base/state"

    // two micro-batches that SPLIT a day between them (b1 lands more
    // rows on day 2) — the additive daily state must merge them, and
    // the cumulative readout must see one combined day-2 row
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-03-0$d%d 09:00:00")
    val b0 = (Seq.tabulate(40)(i =>
        ("exp", ts(1), i % 2, if (i % 2 == 0) (i / 2) % 10 != 0 else (i / 2) % 10 == 0)) ++
      Seq.tabulate(20)(i => ("exp", ts(2), i % 2, i % 2 == 0)))
      .map(r => (r._1, r._2, r._3, if (r._4) 1 else 0))
      .toDF("grp", "ts", "arm", "succ")
    val b1 = (Seq.tabulate(20)(i => ("exp", ts(2), i % 2, i % 2 == 0)) ++
      Seq.tabulate(40)(i => ("exp", ts(3), i % 2, (i / 2) % 3 == 0)))
      .map(r => (r._1, r._2, r._3, if (r._4) 1 else 0))
      .toDF("grp", "ts", "arm", "succ")
    def batchOut(df: DataFrame): Set[(String, java.sql.Date, Long,
        Long, Long, Long, Double, Double, Boolean)] =
      AnalyticsOps.msprtSequential(df, "grp", "ts", "arm", "succ")
        .as[(String, java.sql.Date, Long, Long, Long, Long, Double, Double, Boolean)].collect().toSet

    seed(statePath,
      Seq.empty[(String, java.sql.Date, Long, Long, Long, Long)]
        .toDF("grp", "day", "da", "dxa", "db", "dxb"))

    StreamingOps.maintainMsprtState(statePath, "grp", "ts", "arm",
      "succ")(b0, 0L)
    StreamingOps.maintainMsprtState(statePath, "grp", "ts", "arm",
      "succ")(b1, 1L)
    val released = StreamingOps.msprtStateRelease(spark, statePath)
      .as[(String, java.sql.Date, Long, Long, Long, Long, Double, Double, Boolean)].collect().toSet
    assert(released === batchOut(b0.unionByName(b1)),
      "mSPRT over maintained daily state must equal the batch " +
        "monitor on all rows — same grid, same windows, same readout")
    // the split day merged into ONE daily row, not two
    assert(released.size === 3)

    // replayed micro-batch is a no-op under the txn fence
    StreamingOps.maintainMsprtState(statePath, "grp", "ts", "arm",
      "succ")(b1, 1L)
    val after = StreamingOps.msprtStateRelease(spark, statePath)
      .as[(String, java.sql.Date, Long, Long, Long, Long, Double, Double, Boolean)].collect().toSet
    assert(after === batchOut(b0.unionByName(b1)))
  }

  test("streaming bloom dedup: fixed-memory seen-filter — new keys " +
      "pass, seen keys are claimed, the counter tracks distinct new " +
      "keys, replay is fenced") {
    val base = Files.createTempDirectory("graft-bloomdedup").toString
    val statePath = s"$base/state"
    seed(statePath, Seq.empty[(String, Long)].toDF("bloom_hex", "n_keys"))

    def keys(r: Range) = r.map(i => s"key-$i.example").toDF("k")
    StreamingOps.maintainBloomDedupState(statePath, "k")(keys(0 to 9), 0L)
    // overlap batch: only the 5 genuinely-new keys survive the filter
    val survivors = StreamingOps
      .bloomDedupNew(spark, statePath, keys(5 to 14), "k")
      .as[String].collect().toSet
    assert(survivors == (10 to 14).map(i => s"key-$i.example").toSet,
      s"seen keys must be claimed, new ones pass: $survivors")
    StreamingOps.maintainBloomDedupState(statePath, "k")(keys(5 to 14), 1L)
    val st = (state(statePath).select("n_keys").as[Long].head(),
      new LogStore(spark, statePath).lastTxn())
    assert(st == ((15L, 1L)), s"10 + 5 distinct new keys: $st")
    // everything already ingested is claimed now
    assert(StreamingOps.bloomDedupNew(spark, statePath,
      keys(0 to 14), "k").count() == 0L)
    // replayed micro-batch is a no-op under the txn fence
    StreamingOps.maintainBloomDedupState(statePath, "k")(keys(0 to 9), 0L)
    assert(state(statePath).select("n_keys").as[Long].head() == 15L)
  }

  test("streamingMsprtMonitor: a REAL file stream feeds the daily " +
      "state; the always-valid readout equals the batch monitor") {
    import graft.operators.AnalyticsOps
    val base = Files.createTempDirectory("graft-msprt-live").toString
    val (srcDir, statePath, ckpt) =
      (s"$base/rows", s"$base/state", s"$base/ckpt")
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-03-0$d%d 09:00:00")
    val b0 = Seq.tabulate(40)(i =>
      ("exp", ts(1), i % 2, if (i % 4 < 2) 1 else 0))
      .toDF("grp", "ts", "arm", "succ")
    val b1 = Seq.tabulate(40)(i =>
      ("exp", ts(2), i % 2, if (i % 8 < 5) 1 else 0))
      .toDF("grp", "ts", "arm", "succ")

    seed(statePath,
      Seq.empty[(String, java.sql.Date, Long, Long, Long, Long)]
        .toDF("grp", "day", "da", "dxa", "db", "dxb"))

    b0.write.parquet(srcDir)
    val q = StreamingOps.streamingMsprtMonitor(spark, srcDir,
      b0.schema, "grp", "ts", "arm", "succ", statePath, ckpt)
    try {
      q.processAllAvailable()
      b1.write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      val released = StreamingOps.msprtStateRelease(spark, statePath)
        .as[(String, java.sql.Date, Long, Long, Long, Long, Double,
          Double, Boolean)].collect().toSet
      val batch = AnalyticsOps.msprtSequential(
          b0.unionByName(b1), "grp", "ts", "arm", "succ")
        .as[(String, java.sql.Date, Long, Long, Long, Long, Double,
          Double, Boolean)].collect().toSet
      assert(released === batch,
        "the live monitor must read exactly what the batch would")
    } finally q.stop()
  }

  test("streaming SRM: the guardrail over maintained arm counts is " +
      "bit-identical to the batch check of the whole stream; a break " +
      "that only emerges across batches is caught; replay is fenced") {
    import graft.operators.AnalyticsOps
    val base = Files.createTempDirectory("graft-srm").toString
    val statePath = s"$base/state"

    // each batch alone PASSES the guardrail (270/230 → d = 40,
    // chi2 = 1600/500 = 3.2 < 3.84) but the union carries a 540/460
    // break (d = 80, chi2 = 6400/1000 = 6.4) — the drift that only a
    // maintained cumulative count can catch
    def batch() = (Seq.fill(250)(("ok", 0)) ++ Seq.fill(250)(("ok", 1)) ++
      Seq.fill(270)(("broken", 0)) ++ Seq.fill(230)(("broken", 1)))
      .toDF("grp", "arm")
    val b0 = batch()
    val b1 = batch()
    def batchOut(df: DataFrame): Set[(String, Long, Long, Double,
        Boolean)] =
      AnalyticsOps.srmCheck(df, "grp", "arm")
        .as[(String, Long, Long, Double, Boolean)].collect().toSet

    seed(statePath,
      Seq.empty[(String, Long, Long)].toDF("grp", "n_a", "n_b"))

    StreamingOps.maintainSrmState(statePath, "grp", "arm")(b0, 0L)
    StreamingOps.maintainSrmState(statePath, "grp", "arm")(b1, 1L)
    val released = StreamingOps.srmStateRelease(spark, statePath)
      .as[(String, Long, Long, Double, Boolean)].collect().toSet
    assert(released === batchOut(b0.unionByName(b1)))
    val byGrp = released.map(r => r._1 -> r).toMap
    // each batch alone passes (chi2 = 3.2): the cross-batch union is
    // what trips — 540/460, d = 80, chi2 = 6400/1000 = 6.4
    assert(batchOut(b0)(("broken", 270L, 230L, 3.2, false)))
    assert(byGrp("broken")._4 == 6.4 && byGrp("broken")._5)
    assert(byGrp("ok")._4 == 0.0 && !byGrp("ok")._5)

    // replayed micro-batch is a no-op under the txn fence
    StreamingOps.maintainSrmState(statePath, "grp", "arm")(b1, 1L)
    val after = StreamingOps.srmStateRelease(spark, statePath)
      .as[(String, Long, Long, Double, Boolean)].collect().toSet
    assert(after === batchOut(b0.unionByName(b1)))
  }

  test("streaming DP mean: release over maintained (n, clipped_units) " +
      "state is bit-identical to the batch release; replay is fenced") {
    import graft.operators.AnalyticsOps
    val base = Files.createTempDirectory("graft-dpm").toString
    val statePath = s"$base/state"

    // values straddle the clip boundary (clip = 10.0) and include a
    // negative (clamped to 0) so the per-row clipping is exercised
    val b0 = Seq(("x", 3.5), ("x", 42.0), ("y", -1.0), ("y", 9.99))
      .toDF("g", "v")
    val b1 = Seq(("y", 10.01), ("z", 5.0), ("x", 0.0)).toDF("g", "v")
    def batchRelease(df: DataFrame) =
      AnalyticsOps.dpNoisyMean(df, "g", "v", clip = 10.0, salt = "spec")
        .select(col("g"), col("n"), col("clipped_units"),
          col("noisy_n"), col("noisy_units"), col("released_mean"))
        .collect().toSet

    seed(statePath,
      Seq.empty[(String, Long, Long)].toDF("g", "n", "clipped_units"))
    StreamingOps.maintainDpMeanState(statePath, "g", "v", clip = 10.0)(
      b0, 0L)
    StreamingOps.maintainDpMeanState(statePath, "g", "v", clip = 10.0)(
      b1, 1L)
    def released() = StreamingOps
      .dpMeanStateRelease(spark, statePath, clip = 10.0, salt = "spec")
      .select(col("g"), col("n"), col("clipped_units"),
        col("noisy_n"), col("noisy_units"), col("released_mean"))
      .collect().toSet
    assert(released() === batchRelease(b0.unionByName(b1)),
      "maintained clipped sums must telescope to the batch release")

    // replay fence: re-applying batch 0 must not move the state
    StreamingOps.maintainDpMeanState(statePath, "g", "v", clip = 10.0)(
      b0, 0L)
    assert(released() === batchRelease(b0.unionByName(b1)))
  }

  test("streaming Misra-Gries: maintained state holds the MG " +
      "guarantee against the concatenated stream; replay is fenced") {
    val base = Files.createTempDirectory("graft-mg").toString
    val statePath = s"$base/state"
    val k = 4

    // two skewed batches: items 1 and 2 are the true heavy hitters
    val b0 = (Seq.fill(40)(1L) ++ Seq.fill(20)(2L) ++ (100L to 109L))
      .toDF("x")
    val b1 = (Seq.fill(30)(2L) ++ Seq.fill(25)(1L) ++ (200L to 214L))
      .toDF("x")
    seed(statePath, Seq.empty[(Long, Long)].toDF("item", "cnt"))
    StreamingOps.maintainMisraGriesState(statePath, "x", k)(b0, 0L)
    StreamingOps.maintainMisraGriesState(statePath, "x", k)(b1, 1L)

    def sketch() = state(statePath)
      .select(col("item"), col("cnt")).as[(Long, Long)].collect().toMap
    val sk = sketch()
    val n = 40 + 20 + 10 + 30 + 25 + 15 // 140 total items
    val err = n / (k + 1)               // 28
    val truth = Map(1L -> 65L, 2L -> 50L)
    assert(sk.size <= k)
    truth.foreach { case (item, c) =>
      assert(sk.contains(item),
        s"true count $c > n/(k+1)=$err — item $item MUST be tracked")
      assert(sk(item) <= c && sk(item) >= c - err,
        s"estimate ${sk(item)} must sit within $err below $c")
    }
    // every kept counter is a LOWER bound on its item's true count
    assert(sk.forall { case (i, c) =>
      c <= truth.getOrElse(i, 1L) })

    // replay fence: re-applying batch 0 must not move the state
    StreamingOps.maintainMisraGriesState(statePath, "x", k)(b0, 0L)
    assert(sketch() == sk)
  }

  test("streaming HLL: per-group estimates after N micro-batches " +
      "equal the batch sketch of the whole stream; replay is fenced") {
    val base = Files.createTempDirectory("graft-hll").toString
    val (srcDir, statePath, ckpt) =
      (s"$base/rows", s"$base/state", s"$base/ckpt")

    // overlapping ids across batches: union must count each once;
    // the null id must be ignored, not crash the sketch aggregation
    val b0 = ((1 to 40).map(i => ("a", Option(i.toLong))) ++
      (1 to 10).map(i => ("b", Option(i.toLong)))).toDF("g", "u")
    val b1 = ((21 to 60).map(i => ("a", Option(i.toLong))) ++
      (1 to 5).map(i => ("c", Option(i.toLong))) ++
      Seq(("b", None: Option[Long]))).toDF("g", "u")
    def batchEstimates(df: DataFrame): Set[(String, Long)] =
      df.where(col("u").isNotNull).groupBy(col("g"))
        .agg(hll_sketch_estimate(hll_sketch_agg(col("u"))).as("approx"))
        .as[(String, Long)].collect().toSet

    // seed: empty state, no fence yet
    seed(statePath, Seq.empty[(String, Array[Byte])].toDF("g", "sk"))

    b0.write.parquet(srcDir)
    val q = StreamingOps.streamingHll(spark, srcDir, b0.schema,
      groupCol = "g", valueCol = "u", statePath, ckpt)
    try {
      q.processAllAvailable()
      b1.write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      val got = StreamingOps.hllStateEstimates(spark, statePath)
        .as[(String, Long)].collect().toSet
      assert(got === batchEstimates(b0.unionByName(b1)),
        "merged stream estimates must equal the batch sketch of all rows")
    } finally q.stop()

    // replayed micro-batch is a no-op under the txn fence
    StreamingOps.maintainHllState(statePath, "g", "u")(b0, 0L)
    val after = StreamingOps.hllStateEstimates(spark, statePath)
      .as[(String, Long)].collect().toSet
    assert(after === batchEstimates(b0.unionByName(b1)))
  }

  test("daily HLL state answers the trailing-7-day sliding reach " +
      "identically to the batch merge (sketch_hll_sliding's shape)") {
    import graft.streaming.StreamingOps
    val base = Files.createTempDirectory("graft-hll-slide").toString
    val statePath = s"$base/state"

    // 10 days of (day, user) rows; users overlap across days so the
    // 7-day union genuinely deduplicates
    val rows = for (d <- 1 to 10; u <- 1 to (20 + 3 * d))
      yield (f"2024-01-$d%02d", ((u * 7 + d) % 97).toLong)
    val all = rows.toDF("g", "u")
    val b0 = all.where(col("u") % 2 === 0)
    val b1 = all.where(col("u") % 2 === 1)

    // the batch query's merge stage, over any (g, sk) daily relation
    def sliding(daily: DataFrame): Set[(String, Long)] = {
      val days = daily.select(col("g").cast("date").as("day")).distinct()
      daily
        .withColumn("k", explode(sequence(lit(0), lit(6))))
        .withColumn("day",
          expr("date_add(cast(g as date), cast(k as int))"))
        .join(days, "day")
        .groupBy(col("day"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
        .select(col("day").cast("string"), col("est"))
        .as[(String, Long)].collect().toSet
    }

    seed(statePath, Seq.empty[(String, Array[Byte])].toDF("g", "sk"))
    StreamingOps.maintainHllState(statePath, "g", "u")(b0, 0L)
    StreamingOps.maintainHllState(statePath, "g", "u")(b1, 1L)

    val fromState = sliding(
      state(statePath).select(col("g"), col("sk")))
    val fromBatch = sliding(all.groupBy(col("g"))
      .agg(hll_sketch_agg(col("u")).as("sk")))
    // HLL registers are max-merged, so batch-split vs one-shot
    // aggregation yield IDENTICAL sketches — exact equality, not a
    // tolerance band
    assert(fromState === fromBatch)
    assert(fromState.nonEmpty)
  }

  test("streaming KLL: maintained state quantiles the whole stream " +
      "within the proven band; replay is fenced") {
    import graft.operators.{Kll, KllState}
    val base = Files.createTempDirectory("graft-kll").toString
    val (srcDir, statePath, ckpt) =
      (s"$base/rows", s"$base/state", s"$base/ckpt")
    val cap = 64

    // deterministic pseudo-random values across two micro-batches
    def vals(seed: Long, n: Int): Seq[Double] = {
      var s = seed
      (0 until n).map { _ =>
        s = s * 6364136223846793005L + 1442695040888963407L
        ((s >>> 20) % 100000L).toDouble
      }
    }
    val v0 = vals(7L, 3000)
    val v1 = vals(99L, 2000)
    val b0 = v0.toDF("v")
    val b1 = v1.toDF("v")

    // seed: empty state, no fence yet
    seed(statePath, Seq.empty[(Int, Double)].toDF("level", "v"))

    def stateOf(): KllState = {
      val rows = state(statePath)
        .select(col("level"), col("v")).as[(Int, Double)].collect()
      if (rows.isEmpty) Kll.zero
      else {
        val levels = (0 to rows.map(_._1).max).map(l =>
          rows.filter(_._1 == l).map(_._2).toVector: Seq[Double])
        KllState(levels.zipWithIndex
          .map { case (xs, i) => xs.size.toLong * (1L << i) }.sum, levels)
      }
    }

    b0.write.parquet(srcDir)
    val q = StreamingOps.streamingKll(spark, srcDir, b0.schema,
      valueCol = "v", statePath, ckpt, capacity = cap)
    try {
      q.processAllAvailable()
      b1.write.mode("append").parquet(srcDir)
      q.processAllAvailable()
    } finally q.stop()

    val st = stateOf()
    val all = (v0 ++ v1).sorted
    val n = all.length
    assert(st.count == n, "stream weight must equal rows seen")
    val levels = (math.log(n.toDouble / cap) / math.log(2)).ceil + 2
    val bound = (2.0 * levels * n / cap).ceil.toLong
    for (qq <- Seq(0.25, 0.5, 0.9)) {
      val est = Kll.quantiles(st, Seq(qq)).head
      val target = math.ceil(qq * n).toLong
      val err = math.abs(all.count(_ <= est).toLong - target)
      assert(err <= bound, s"q=$qq rank error $err > $bound")
    }

    // replayed micro-batch is a no-op under the txn fence
    val before = stateOf()
    StreamingOps.maintainKllState(statePath, "v", cap)(b0, 0L)
    assert(stateOf() == before)
  }

  test("streaming KLL: a null value in a micro-batch is dropped, not " +
      "a poison pill") {
    import graft.operators.{Kll, KllState}
    val base = Files.createTempDirectory("graft-kll-null").toString
    val statePath = s"$base/state"
    seed(statePath, Seq.empty[(Int, Double)].toDF("level", "v"))
    // null and uncastable rows used to throw inside the typed
    // aggregation — and foreachBatch replays re-hit the same rows, so
    // the failure was permanent. They must simply be dropped.
    val batch = (Seq("1.0", "2.0", "3.0") ++ Seq(null, "oops"))
      .toDF("v")
    StreamingOps.maintainKllState(statePath, "v", capacity = 16)(batch, 0L)
    val rows = state(statePath)
      .select(col("level"), col("v")).as[(Int, Double)].collect()
    assert(rows.map(_._2).sorted.toSeq === Seq(1.0, 2.0, 3.0))
  }

  test("sequential diffs compose additively in one batch (linearity)") {
    // two consecutive diffs delivered TOGETHER must apply correctly:
    // the delta algebra is linear, so concatenated change rows
    // telescope exactly like sequential application
    val s0 = Seq((1L, "a", 1.0)).toDF("id", "grp", "v")
    val s1 = Seq((1L, "a", 2.0), (2L, "b", 3.0)).toDF("id", "grp", "v")
    val s2 = Seq((2L, "b", 5.0)).toDF("id", "grp", "v")
    def diff(a: DataFrame, b: DataFrame) = RelationalOps
      .snapshotDiff(a, b, keys = Seq("id"), compare = Seq("grp", "v"))
    val both = diff(s0, s1).unionByName(diff(s1, s2))
    val out = RelationalOps.applyDiffToSumCount(agg(s0), both, "grp", "v")
      .select(col("grp"), col("cnt"), col("sm").cast("double"))
      .as[(String, Long, Double)].collect().toSet
    assert(out === Set(("b", 1L, 5.0)))
  }

  test("streaming KMV: maintained state EXACTLY equals the batch " +
      "sketch of the whole stream (associative merge); replay fenced") {
    import graft.operators.Sketches
    val base = Files.createTempDirectory("graft-kmv").toString
    val (srcDir, statePath, ckpt) =
      (s"$base/rows", s"$base/state", s"$base/ckpt")
    val k = 16

    // overlapping ids across batches (union counts each once), a
    // below-k group (exact path), and a null id (ignored, not a crash)
    val b0 = ((1 to 400).map(i => ("a", Option(i.toLong))) ++
      (1 to 5).map(i => ("b", Option(i.toLong)))).toDF("g", "u")
    val b1 = ((201 to 600).map(i => ("a", Option(i.toLong))) ++
      (4 to 8).map(i => ("b", Option(i.toLong))) ++
      Seq(("b", None: Option[Long]))).toDF("g", "u")

    def batchSketch(df: DataFrame): Set[(String, Long, Long, Double)] =
      Sketches.kmvDistinct(df, "g", "u", k)
        .select(col("grp"), col("n_kept"), col("theta"),
          col("est_distinct"))
        .as[(String, Long, Long, Double)].collect().toSet

    // seed: empty long-form state, no fence yet
    seed(statePath, Seq.empty[(String, Long)].toDF("g", "h"))

    b0.write.parquet(srcDir)
    val q = StreamingOps.streamingKmv(spark, srcDir, b0.schema,
      groupCol = "g", valueCol = "u", statePath, ckpt, k)
    try {
      q.processAllAvailable()
      b1.write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      val got = StreamingOps.kmvStateEstimates(spark, statePath, k)
        .as[(String, Long, Long, Double)].collect().toSet
      assert(got === batchSketch(b0.unionByName(b1)),
        "incremental KMV state must be BIT-IDENTICAL to the batch " +
          "sketch of all rows — the sketch merge is associative")
      // the below-k group is exact: 8 distinct ids in 'b'
      assert(got.exists { case (g, n, _, est) =>
        g == "b" && n == 8L && est == 8.0 })
    } finally q.stop()

    // replayed micro-batch is a no-op under the txn fence
    StreamingOps.maintainKmvState(statePath, "g", "u", k)(b0, 0L)
    val after = StreamingOps.kmvStateEstimates(spark, statePath, k)
      .as[(String, Long, Long, Double)].collect().toSet
    assert(after === batchSketch(b0.unionByName(b1)))
  }

  test("streaming bootstrap: maintained moments CI after N " +
      "micro-batches is BIT-IDENTICAL to the batch CI of the whole " +
      "stream; replay is fenced") {
    import graft.operators.AnalyticsOps
    val base = Files.createTempDirectory("graft-boot").toString
    val (srcDir, statePath, ckpt) =
      (s"$base/rows", s"$base/state", s"$base/ckpt")
    val bCount = 100

    def mkBatch(ids: Range, tag: String): DataFrame =
      ids.map(i => (tag, i.toLong, (i % 37).toDouble + 0.25))
        .toDF("event_type", "event_id", "value")
    // overlapping groups across batches: the merged state must blend
    // rows of the same group arriving in different micro-batches
    val b0 = mkBatch(1 to 300, "a").unionByName(mkBatch(301 to 400, "b"))
    val b1 = mkBatch(401 to 700, "b").unionByName(mkBatch(701 to 800, "a"))

    def batchCi(df: DataFrame): Set[(String, Long, Double, Double, Double)] =
      AnalyticsOps.bootstrapMeanCi(df, b = bCount)
        .as[(String, Long, Double, Double, Double)].collect().toSet

    // seed: empty moment state, no fence yet
    seed(statePath,
      AnalyticsOps.bootstrapMoments(b0.limit(0), b = bCount))

    b0.write.parquet(srcDir)
    val q = StreamingOps.streamingBootstrap(spark, srcDir, b0.schema,
      "event_type", "event_id", "value", statePath, ckpt, bCount)
    try {
      q.processAllAvailable()
      b1.write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      val got = StreamingOps
        .bootstrapStateCi(spark, statePath, "event_type", bCount)
        .as[(String, Long, Double, Double, Double)].collect().toSet
      assert(got === batchCi(b0.unionByName(b1)),
        "the moment table is additive, so the streaming CI must " +
          "EXACTLY equal the batch CI of all rows")
    } finally q.stop()

    // replayed micro-batch is a no-op under the txn fence
    StreamingOps.maintainBootstrapState(statePath, "event_type",
      "event_id", "value", bCount)(b0, 0L)
    val after = StreamingOps
      .bootstrapStateCi(spark, statePath, "event_type", bCount)
      .as[(String, Long, Double, Double, Double)].collect().toSet
    assert(after === batchCi(b0.unionByName(b1)))
  }
}
