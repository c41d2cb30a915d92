package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.catalog.LogStore

/** The native change-feed source's contract: feed parity with
  * readChanges bit for bit, version offsets that restart mid-history
  * from the Spark checkpoint, admission control, full streaming
  * composition (windowed aggregation ≡ batch), exact scalar-type
  * round-trips, and the loud vacuum refusal. */
class LogStreamSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fresh(statsCol: Option[String] = None) = new LogStore(
    spark, Files.createTempDirectory("graft-lss").toString + "/tbl",
    statsCol = statsCol)

  private def stream(root: String, opts: Map[String, String] = Map.empty)
      : DataFrame =
    opts.foldLeft(spark.readStream.format("graft-log")
      .option("path", root)) { case (r, (k, v)) => r.option(k, v) }
      .load()

  private def drain(df: DataFrame, name: String): DataFrame = {
    val q = df.writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  test("feed parity: the streamed rows are EXACTLY readChanges(0) — " +
      "implied inserts, cdc segments verbatim, dataChange=false " +
      "commits contributing nothing") {
    val t = fresh(statsCol = Some("id"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))     // v0 inserts
    t.append(Seq((3L, "c")).toDF("id", "v"))                // v1 inserts
    t.merge(Seq((2L, "B"), (9L, "z")).toDF("id", "v"), "id") // v2 images
    t.deleteWhere("id = 1")                                 // v3 delete
    t.compact()                                             // v4 nothing
    def shape(df: DataFrame) = df
      .select(col("id"), col("v"), col("_change_type"),
        col("_commit_version"))
      .as[(Long, String, String, Long)].collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    val streamed = shape(drain(stream(t.root), "lss_parity"))
    val batch = shape(t.readChanges(0))
    assert(streamed == batch,
      "the native source must reproduce the feed multiset exactly")
    assert(streamed.keys.exists(_._3 == "update_preimage") &&
      streamed.keys.exists(_._3 == "delete"),
      "the churn actually exercised cdc segments")
  }

  test("offsets are commit versions: a restarted query resumes " +
      "MID-HISTORY from the checkpoint and absorbs each version " +
      "exactly once (file-sink proof)") {
    val t = fresh()
    val base = Files.createTempDirectory("graft-lss-r").toString
    val (out, ckpt) = (s"$base/out", s"$base/ckpt")
    t.append((1L to 5L).toDF("id"))                          // v0
    t.append((6L to 10L).toDF("id"))                         // v1
    def run(): Unit = {
      val q = stream(t.root).writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).format("parquet")
        .start(out)
      try q.awaitTermination() finally q.stop()
    }
    run()
    assert(spark.read.parquet(out).count() == 10L)
    t.append((11L to 13L).toDF("id"))                        // v2
    t.append((14L to 15L).toDF("id"))                        // v3
    run() // restart: must plan ONLY versions (1, 3]
    val rows = spark.read.parquet(out)
      .select(col("id"), col("_commit_version"))
      .as[(Long, Long)].collect().toSeq
    assert(rows.length == 15, s"exactly once: ${rows.length} rows")
    assert(rows.toSet == ((1L to 5L).map((_, 0L)) ++
      (6L to 10L).map((_, 1L)) ++ (11L to 13L).map((_, 2L)) ++
      (14L to 15L).map((_, 3L))).toSet)
  }

  test("admission control: maxVersionsPerTrigger bounds the versions " +
      "absorbed per micro-batch; startingVersion skips history") {
    val t = fresh()
    (0 until 5).foreach(i =>
      t.append(Seq(i.toLong).toDF("id")))                    // v0..v4
    val batches = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val q = stream(t.root, Map("maxVersionsPerTrigger" -> "2"))
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft-lss-a").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, _: Long) =>
        batches += df.select(col("_commit_version"))
          .as[Long].collect().toSet
        ()
      }.start()
    try q.awaitTermination() finally q.stop()
    val nonEmpty = batches.filter(_.nonEmpty)
    assert(nonEmpty.forall(_.size <= 2),
      s"every micro-batch must absorb at most 2 versions: $batches")
    assert(nonEmpty.size >= 3 &&
      nonEmpty.flatten.toSet == (0L to 4L).toSet)

    // startingVersion: only v3+ stream; "latest" sees only NEW commits
    val from3 = drain(stream(t.root,
      Map("startingVersion" -> "3")), "lss_sv")
    assert(from3.select(col("_commit_version")).as[Long]
      .collect().toSet == Set(3L, 4L))
  }

  test("full streaming composition: a windowed aggregation over the " +
      "feed equals the batch aggregation of readChanges — the thing " +
      "the rate-clock hack could never do") {
    def ts(h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-05-01 $h%02d:$m%02d:00")
    val t = fresh()
    t.append(Seq((ts(9, 10), 3L), (ts(9, 50), 4L), (ts(10, 5), 10L))
      .toDF("ts", "n"))
    t.append(Seq((ts(10, 40), 20L), (ts(11, 1), 100L)).toDF("ts", "n"))
    t.compact()
    t.append(Seq((ts(9, 59), 5L)).toDF("ts", "n"))
    def agg(df: DataFrame) = df
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(sum(col("n")).as("total"), count(lit(1)).as("cnt"))
      .select(col("w.start").cast("string"), col("total"), col("cnt"))
    val q = agg(stream(t.root)).writeStream
      .outputMode("complete").format("memory")
      .queryName("lss_win").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("lss_win")
      .as[(String, Long, Long)].collect().toSet
    val batch = agg(t.readChanges(0))
      .as[(String, Long, Long)].collect().toSet
    assert(streamed == batch && streamed.size == 3,
      s"windowed agg over the native feed must equal batch: $streamed")
  }

  test("scalar types round-trip exactly through the executor-side " +
      "parquet reader: long, int, double, string, boolean, date, " +
      "timestamp, decimal, binary, null") {
    val t = fresh()
    val df = Seq(
      (1L, 7, 2.5, "héllo", true, java.sql.Date.valueOf("2024-02-29"),
        java.sql.Timestamp.valueOf("2024-02-29 23:59:59.123456"),
        BigDecimal("12345.6789"), Array[Byte](1, 2, -3),
        Option("x")),
      (2L, -9, -0.125, "", false, java.sql.Date.valueOf("1969-12-31"),
        java.sql.Timestamp.valueOf("1969-12-31 23:00:00.000001"),
        BigDecimal("-0.0001"), Array.empty[Byte],
        None: Option[String]))
      .toDF("l", "i", "d", "s", "b", "dt", "ts", "dec", "bin", "opt")
    t.append(df)
    val got = drain(stream(t.root), "lss_types")
      .drop("_change_type", "_commit_version")
    def canon(x: DataFrame) = x.select(col("l"), col("i"), col("d"),
        col("s"), col("b"), col("dt").cast("string"),
        col("ts").cast("string"), col("dec").cast("string"),
        hex(col("bin")), col("opt"))
      .as[(Long, Int, Double, String, Boolean, String, String, String,
        String, Option[String])].collect().toSet
    assert(canon(got) == canon(t.read()),
      "every scalar must survive the parquet round trip exactly")
  }

  test("ARRAYS of scalars stream through the parquet reader: an " +
      "embedding table's feed round-trips float/double/long arrays " +
      "exactly (standard 3-level list encoding), empty arrays and " +
      "null arrays included") {
    val t = fresh()
    val df = Seq(
      (1L, Seq(1.5f, -2.25f, 0f), Seq(1.0, 2.0), Option(Seq(7L, 8L))),
      (2L, Seq.empty[Float], Seq(-0.125), None: Option[Seq[Long]]))
      .toDF("id", "emb", "dv", "lv")
    t.append(df)
    val got = drain(stream(t.root), "lss_arrays")
      .drop("_change_type", "_commit_version")
    def canon(x: DataFrame) = x
      .select(col("id"), col("emb"), col("dv"), col("lv"))
      .as[(Long, Seq[Float], Seq[Double], Option[Seq[Long]])]
      .collect().toSet
    assert(canon(got) == canon(t.read()),
      "arrays must survive the parquet list round trip exactly")
  }

  test("BATCH feed reads: spark.read over the source equals " +
      "readChanges, changesFrom/changesTo slice by version, and the " +
      "vacuum refusal holds on the batch path too") {
    val t = fresh(statsCol = Some("id"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))      // v0
    t.merge(Seq((2L, "B")).toDF("id", "v"), "id")            // v1
    t.deleteWhere("id = 1")                                  // v2
    def batchRead(opts: (String, String)*) =
      opts.foldLeft(spark.read.format("graft-log")
        .option("path", t.root)) { case (r, (k, v)) => r.option(k, v) }
        .load()
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id"), col("v"), col("_change_type"),
        col("_commit_version"))
      .as[(Long, String, String, Long)].collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(shape(batchRead()) == shape(t.readChanges(0)),
      "the full batch feed must equal readChanges(0)")
    assert(shape(batchRead("changesFrom" -> "1")) ==
      shape(t.readChanges(1)))
    assert(shape(batchRead("changesFrom" -> "1", "changesTo" -> "1")) ==
      shape(t.readChanges(1, 1)))
    // the feed composes with the full batch optimizer: an aggregate
    val n = batchRead().groupBy(col("_change_type")).count()
      .as[(String, Long)].collect().toMap
    assert(n("delete") == 1L && n("update_postimage") == 1L)

    val t2 = fresh()
    t2.append((1L to 5L).toDF("id"))
    t2.compact()
    t2.vacuum(retainLast = 1, orphanMinAgeMs = 0L)
    val e = intercept[Exception] {
      spark.read.format("graft-log").option("path", t2.root)
        .load().count()
    }
    assert(String.valueOf(e.getMessage).contains("vacuum") ||
      (e.getCause != null &&
        String.valueOf(e.getCause.getMessage).contains("vacuum")),
      s"got: $e")
  }

  test("column pruning reaches the connector: a narrow projection " +
      "plans a scan whose output is ONLY the requested columns") {
    val t = fresh()
    t.append(Seq((1L, "a", 2.5), (2L, "b", 3.5)).toDF("id", "v", "x"))
    val df = spark.read.format("graft-log").option("path", t.root)
      .load().select(col("id"))
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty, "expected a DSv2 BatchScanExec")
    assert(scans.head.output.map(_.name) == Seq("id"),
      s"pruned scan must read only [id]: ${scans.head.output}")
    assert(df.as[Long].collect().toSet == Set(1L, 2L))
    // pruned reads stay correct on the streaming path as well
    val got = drain(stream(t.root).select(col("v"),
      col("_commit_version")), "lss_prune")
      .as[(String, Long)].collect().toSet
    assert(got == Set(("a", 0L), ("b", 0L)))
  }

  test("a vacuumed gap refuses LOUDLY: planning versions behind the " +
      "horizon is a stream error, never a silent skip") {
    val t = fresh()
    t.append((1L to 5L).toDF("id"))           // v0
    t.append((6L to 9L).toDF("id"))           // v1
    t.compact()                               // v2
    t.vacuum(retainLast = 1, orphanMinAgeMs = 0L) // horizon = 2
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(stream(t.root), "lss_vac")
    }
    assert(e.getCause != null &&
      String.valueOf(e.getCause.getMessage).contains("vacuum"),
      s"got: ${e.getCause}")
  }

  // ---- snapshot mode ----

  private def snapshot(root: String, opts: Map[String, String] = Map.empty)
      : DataFrame =
    opts.foldLeft(spark.read.format("graft-log")
      .option("path", root).option("mode", "snapshot")) {
      case (r, (k, v)) => r.option(k, v)
    }.load()

  test("snapshot mode reads the LIVE rows (not the feed) and time " +
      "travels by version and by timestamp") {
    val t = fresh(statsCol = Some("id"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.merge(Seq((2L, "B"), (3L, "c")).toDF("id", "v"), "id")
    t.deleteWhere("id = 1")
    def rows(df: DataFrame) = df.select(col("id"), col("v"))
      .as[(Long, String)].collect().toSet
    assert(rows(snapshot(t.root)) == Set((2L, "B"), (3L, "c")))
    assert(rows(snapshot(t.root, Map("versionAsOf" -> "0"))) ==
      Set((1L, "a"), (2L, "b")))
    // timestamp travel via the in-log commit stamp of version 0
    val ts0 = t.describeHistory().where(col("version") === 0)
      .select(col("commit_time_ms")).as[Long].head()
    assert(rows(snapshot(t.root,
      Map("timestampAsOf" -> ts0.toString))) ==
      Set((1L, "a"), (2L, "b")))
    // the snapshot schema carries no feed columns
    assert(!snapshot(t.root).columns.contains("_change_type"))
  }

  test("snapshot pushdown prunes segments by the logged stats and " +
      "bloom — configured FROM THE LOG — while results stay exactly " +
      "the full scan's") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual,
      In, LessThanOrEqual}
    val root = Files.createTempDirectory("graft-snap").toString + "/tbl"
    val w = new LogStore(spark, root, statsCol = Some("id"),
      bloomCol = Some("k"))
    w.append((1L to 100L).map(i => (i, s"k$i")).toDF("id", "k"))
    w.append((101L to 200L).map(i => (i, s"k$i")).toDF("id", "k"))
    w.append((201L to 300L).map(i => (i, s"k$i")).toDF("id", "k"))
    // the reader store is reconstructed from the log's props action
    val r = LogStore.configured(spark, root)
    def kept(fs: org.apache.spark.sql.sources.Filter*) =
      LogSnapshotPruning.selectSegments(r, Long.MaxValue,
        fs.toArray)._1.size
    assert(kept(GreaterThanOrEqual("id", 120L),
      LessThanOrEqual("id", 150L)) == 1,
      "a one-segment range must open one of three segments")
    assert(kept(EqualTo("k", "k250")) == 1,
      "a bloom point probe must open one segment")
    assert(kept(In("id", Array(5L, 205L))) == 2,
      "an IN set spanning two segments must open exactly those")
    // end to end: the pushed predicates never change the result set
    val viaConnector = snapshot(root)
      .where(col("id").between(120L, 150L))
      .agg(count(lit(1)).as("n"), sum(col("id")).as("s"))
      .as[(Long, Long)].head()
    assert(viaConnector == ((31L, (120L to 150L).sum)))
    val point = snapshot(root).where(col("k") === "k250")
      .select(col("id")).as[Long].collect().toSeq
    assert(point == Seq(250L))
    // the plan advertises what it pruned on
    val plan = snapshot(root).where(col("id") >= 120L && col("id") <= 150L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("id"),
      s"pushdown must be visible in the plan, got:\n$plan")
  }

  test("snapshot mode on a table with NO recorded props never prunes " +
      "but stays exactly correct (the safe default)") {
    val t = fresh() // plain writer: no stats, no props action
    t.append((1L to 50L).toDF("id"))
    t.append((51L to 90L).toDF("id"))
    val got = snapshot(t.root).where(col("id") > 80L)
      .select(col("id")).as[Long].collect().toSet
    assert(got == (81L to 90L).toSet)
  }

  test("aggregate pushdown: COUNT(*)/MIN/MAX answered FROM THE LOG " +
      "(plan-visible), falling back to a real scan for filters, " +
      "legacy segments, and unanswerable functions") {
    val root = Files.createTempDirectory("graft-agg").toString + "/tbl"
    val w = new LogStore(spark, root, statsCol = Some("id"))
    w.append((10L to 40L).map(i => (i, i * 2.0)).toDF("id", "v"))
    w.append((100L to 140L).map(i => (i, i * 2.0)).toDF("id", "v"))
    w.append((7L to 9L).map(i => (i, i * 2.0)).toDF("id", "v"))
    def agg(df: org.apache.spark.sql.DataFrame) = df.agg(
      count(lit(1)).as("n"), min(col("id")).as("lo"),
      max(col("id")).as("hi"))
    val answered = agg(snapshot(root))
    assert(answered.as[(Long, Long, Long)].head() == ((75L, 7L, 140L)))
    assert(answered.queryExecution.executedPlan.toString
      .contains("GraftLogStatsAggregate"),
      "the bare global aggregate must be answered from segment metadata")
    // a filter makes per-row work unavoidable: no stats answer, same
    // result as the real computation
    val filtered = agg(snapshot(root).where(col("id") >= 100L))
    assert(!filtered.queryExecution.executedPlan.toString
      .contains("GraftLogStatsAggregate"))
    assert(filtered.as[(Long, Long, Long)].head() == ((41L, 100L, 140L)))
    // AVG is not answerable from min/max/rows: full fallback
    val avg = snapshot(root).agg(org.apache.spark.sql.functions
      .avg(col("id")).as("a"))
    assert(!avg.queryExecution.executedPlan.toString
      .contains("GraftLogStatsAggregate"))
    assert(avg.as[Double].head() > 0)
    // a legacy segment (committed without a row count) blocks COUNT
    // pushdown but never the answer
    (1000L to 1004L).toDF("id").write.parquet(s"$root/seg-legacy")
    w.commit(w.latestVersion() + 1,
      Seq(w.Segment("seg-legacy", None, None, num = false)), Nil)
    val legacy = snapshot(root).agg(count(lit(1)).as("n"))
    assert(!legacy.queryExecution.executedPlan.toString
      .contains("GraftLogStatsAggregate"))
    assert(legacy.as[Long].head() == 80L)
    // time travel composes: the version-0 snapshot answers ITS count
    val v0 = snapshot(root, Map("versionAsOf" -> "0"))
      .agg(count(lit(1)).as("n"))
    assert(v0.as[Long].head() == 31L)
    assert(v0.queryExecution.executedPlan.toString
      .contains("GraftLogStatsAggregate"))
  }

  test("watermarked event-time aggregation over the native feed: " +
      "out-of-order commits through withWatermark + tumbling window " +
      "≡ the batch counterpart with the same late-row drops") {
    val root = Files.createTempDirectory("graft-wm").toString + "/tbl"
    val store = new LogStore(spark, root)
    def rows(specs: (String, String)*) = {
      val sel = specs.map { case (ts, k) =>
        s"SELECT to_timestamp('$ts') AS ts, '$k' AS k"
      }.mkString(" UNION ALL ")
      spark.sql(sel)
    }
    store.append(rows(("2024-01-01 00:10:00", "a"),
      ("2024-01-01 00:20:00", "a"), ("2024-01-01 00:30:00", "b"),
      ("2024-01-01 01:10:00", "a")))
    store.append(rows(("2024-01-01 02:30:00", "b"))) // wm → 02:00
    store.append(rows(("2024-01-01 03:30:00", "a"))) // hours 0-2 emit
    store.append(rows(("2024-01-01 00:15:00", "a"))) // LATE: its
      // window was already emitted+evicted → guaranteed dropped
    val q = spark.readStream.format("graft-log").option("path", root)
      .option("maxVersionsPerTrigger", "1").load()
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("k"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("string").as("w"), col("k"),
        col("n"))
      .writeStream.outputMode("append").format("memory")
      .queryName("wm_spec_mem").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("wm_spec_mem")
      .as[(String, String, Long)].collect().toSet
    // the batch counterpart: drop the row that arrived behind the
    // watermark, keep windows whose end the final watermark (03:00)
    // passed — hour 3 is withheld, exactly like the stream
    val batch = store.read()
      .where(col("ts") =!= expr("to_timestamp('2024-01-01 00:15:00')"))
      .groupBy(window(col("ts"), "1 hour"), col("k"))
      .agg(count(lit(1)).as("n"))
      .where(col("window.end") <=
        expr("to_timestamp('2024-01-01 03:00:00')"))
      .select(col("window.start").cast("string").as("w"), col("k"),
        col("n"))
      .as[(String, String, Long)].collect().toSet
    assert(streamed == batch,
      s"stream $streamed must equal the dropped-late batch $batch")
    assert(streamed.size == 4 &&
      streamed.contains(("2024-01-01 00:00:00", "a", 2L)),
      "the late straggler must not count")
  }
}
