package graft.catalog

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Differential pin for the recorded segment bounds: the bounds the
  * write tasks record (`LogDataWriter`, spelled by segmentsMeta) must
  * be BYTE-IDENTICAL to an independent Spark
  * min/max-cast-to-string recomputation over the same segment's
  * files, for every stats type — integral, string, date, double with
  * NaN and infinities — through the engine's writes and a SQL INSERT
  * through the connector. (The suite's name says "footer": the bounds
  * were once read from parquet footers, with an aggregation job as
  * the fallback.) */
class FooterStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft-fstats").toString

  /** The recorded bounds of every live segment vs a per-segment
    * recompute over its parquet directory. */
  private def checkBounds(store: LogStore, root: String,
      c: String): Unit = {
    store.liveSegmentInfos().foreach { s =>
      val df = spark.read.parquet(s"$root/${s.name}")
      val r = df.agg(min(col(c)).cast("string"),
        max(col(c)).cast("string")).head()
      val expected =
        if (r.isNullAt(0)) None else Some((r.getString(0), r.getString(1)))
      val got = s.boundsOf(c).map(b => (b._1, b._2))
      assert(got == expected,
        s"segment ${s.name} column $c: recorded $got != agg $expected")
      // and the row count stamp, while we are here
      assert(s.rows.contains(df.count()),
        s"segment ${s.name}: recorded rows ${s.rows} != ${df.count()}")
    }
  }

  test("long bounds (negatives, extremes) match the aggregation's") {
    val root = tmp() + "/t"
    val store = new LogStore(spark, root, statsCol = Some("k"))
    store.append(Seq(-9223372036854775808L, -1L, 0L, 42L,
      9223372036854775807L).toDF("k"))
    store.append(Seq(7L, -7L).toDF("k"))
    checkBounds(store, root, "k")
  }

  test("int and short bounds match the aggregation's") {
    val rootI = tmp() + "/i"
    val si = new LogStore(spark, rootI, statsCol = Some("k"))
    si.append(Seq(Int.MinValue, -5, 0, Int.MaxValue).toDF("k"))
    checkBounds(si, rootI, "k")
    val rootS = tmp() + "/s"
    val ss = new LogStore(spark, rootS, statsCol = Some("k"))
    ss.append(Seq(Short.MinValue, 9.toShort, Short.MaxValue).toDF("k"))
    checkBounds(ss, rootS, "k")
  }

  test("string bounds match the aggregation's, incl. nulls") {
    val root = tmp() + "/str"
    val store = new LogStore(spark, root, statsCol = Some("k"))
    store.append(Seq(Some("00000123"), Some("zzz"), None,
      Some("emile"), Some("a~plain")).toDF("k"))
    checkBounds(store, root, "k")
  }

  test("non-ASCII string bounds stay gated like the aggregation's") {
    val root = tmp() + "/uni"
    val store = new LogStore(spark, root, statsCol = Some("k"))
    // the max ("é中") fails safeStringBound — the segment records
    // nothing for the column
    store.append(Seq("00000123", "émile", "é中").toDF("k"))
    assert(store.liveSegmentInfos().forall(_.min.isEmpty))
    val (df, scanned, live) = store.readRange("0", "1")
    assert(scanned == live && df.count() == 1)
  }

  test("unsafe string bounds are still gated (no bounds recorded)") {
    val root = tmp() + "/unsafe"
    val store = new LogStore(spark, root, statsCol = Some("k"))
    // a quote is grammar-unsafe — safeStringBound must reject it
    store.append(Seq("\"quoted\"", "plain").toDF("k"))
    assert(store.liveSegmentInfos().forall(_.min.isEmpty))
    // and the read stays exact: no bounds = always scanned
    val (df, scanned, live) = store.readRange("a", "q")
    assert(scanned == live && df.count() == 1)
  }

  test("all-null stats column records no bounds; mixed ignores nulls") {
    val root = tmp() + "/nulls"
    val store = new LogStore(spark, root, statsCol = Some("k"))
    store.append(Seq[Option[Long]](None, None).toDF("k"))
    store.append(Seq[Option[Long]](Some(3L), None, Some(-2L)).toDF("k"))
    checkBounds(store, root, "k")
    val infos = store.liveSegmentInfos()
    assert(infos.exists(_.min.isEmpty) && infos.exists(
      _.boundsOf("k").exists(b => b._1 == "-2" && b._2 == "3")))
  }

  test("multi-column stats (long + string) match the aggregation's") {
    val root = tmp() + "/multi"
    val store = new LogStore(spark, root, statsCol = Some("k"),
      statsCols = Seq("name"))
    store.append(Seq((5L, "beta"), (2L, "alpha"), (9L, "omega"))
      .toDF("k", "name"))
    checkBounds(store, root, "k")
    checkBounds(store, root, "name")
  }

  test("double stats fall back to the aggregation and stay correct") {
    val root = tmp() + "/dbl"
    val store = new LogStore(spark, root, statsCol = Some("k"))
    store.append(Seq(1.5, -0.25, 1e300).toDF("k"))
    checkBounds(store, root, "k")
  }

  test("double bounds with NaN and infinities match the aggregation's " +
      "(Spark's ordering puts NaN last)") {
    val root = tmp() + "/nan"
    val store = new LogStore(spark, root, statsCol = Some("k"))
    store.append(Seq(1.5, Double.NaN, Double.NegativeInfinity, -0.25)
      .toDF("k"))
    store.append(Seq(Double.PositiveInfinity, 2.0, -3.0).toDF("k"))
    store.append(Seq(Double.NaN, Double.NaN).toDF("k"))
    checkBounds(store, root, "k")
    assert(store.liveSegmentInfos().map(_.boundsOf("k").map(b =>
      (b._1, b._2))) == Seq(Some(("-Infinity", "NaN")),
        Some(("-3.0", "Infinity")), Some(("NaN", "NaN"))))
  }

  test("a SQL INSERT through the connector records the bounds its " +
      "tasks saw (DOUBLE stats beside a Bloom column)") {
    val root = tmp()
    spark.conf.set("spark.sql.catalog.gfstats",
      "graft.sources.GraftLogCatalog")
    spark.conf.set("spark.sql.catalog.gfstats.root", root)
    spark.sql("CREATE TABLE gfstats.d (d DOUBLE, k STRING) " +
      "TBLPROPERTIES ('statsCol' = 'd', 'bloomCol' = 'k')")
    spark.sql("INSERT INTO gfstats.d VALUES (1.5, 'a'), " +
      "(CAST('NaN' AS DOUBLE), 'b'), (-1e300, NULL), " +
      "(CAST('-Infinity' AS DOUBLE), 'c'), (NULL, 'd')")
    spark.sql("INSERT INTO gfstats.d SELECT CAST(id AS DOUBLE) / 7, " +
      "CAST(id AS STRING) FROM range(0, 50)")
    val store = LogStore.configured(spark, s"$root/d")
    assert(store.liveSegmentInfos().size == 2)
    checkBounds(store, s"$root/d", "d")
  }

  test("clustered multi-segment publish: every segment's bounds match") {
    val root = tmp() + "/clu"
    val store = new LogStore(spark, root, statsCol = Some("k"))
    store.appendClustered(
      spark.range(0, 1000).select(col("id").as("k"),
        (col("id") % 7).as("v")), col("k"), 4)
    assert(store.liveSegmentInfos().size == 4)
    checkBounds(store, root, "k")
    // the clustered ranges must still prune
    val (_, scanned, live) = store.readRange("0", "10")
    assert(live == 4 && scanned == 1)
  }

  private def dates(ds: Option[String]*) =
    ds.zipWithIndex.map { case (d, i) => (i.toLong, d) }.toDF("id", "s")
      .select(col("id"), col("s").cast("date").as("d"))

  test("date bounds (pre-1970, leap day, far years) match the " +
      "aggregation's") {
    val root = tmp() + "/date"
    val store = new LogStore(spark, root, statsCol = Some("d"))
    store.append(dates(Some("1969-12-31"), Some("1900-01-01"),
      Some("1970-01-01"), None, Some("2024-02-29")))
    store.append(dates(Some("1583-01-01"), Some("9999-12-31")))
    store.append(dates(Some("1969-07-20")))
    // before the 1582 Gregorian cutover: proleptic days, spelled as
    // the cast spells them
    store.append(dates(Some("0001-01-01"), Some("1000-06-15")))
    checkBounds(store, root, "d")
    assert(store.liveSegmentInfos().head.boundsOf("d").map(b =>
      (b._1, b._2)).contains(("1900-01-01", "2024-02-29")))
    // and the bounds prune like any other stats column
    val (df, scanned, live) = store.readRangeOn("d", "2025-01-01",
      "2025-12-31")
    assert(live == 4 && scanned == 1 && df.count() == 0)
  }

  test("all-null date column records no bounds; mixed ignores nulls") {
    val root = tmp() + "/dnull"
    val store = new LogStore(spark, root, statsCol = Some("d"))
    store.append(dates(None, None))
    store.append(dates(None, Some("1955-05-05"), Some("1931-01-02")))
    checkBounds(store, root, "d")
    val infos = store.liveSegmentInfos()
    assert(infos.exists(_.min.isEmpty) && infos.exists(
      _.boundsOf("d").exists(b =>
        b._1 == "1931-01-02" && b._2 == "1955-05-05")))
  }

  test("a multi-file date segment folds every file's bounds") {
    val root = tmp() + "/dmulti"
    val store = new LogStore(spark, root, statsCol = Some("d"),
      statsCols = Seq("id"))
    store.append(spark.range(0, 3000).select(col("id"),
      date_add(lit(java.sql.Date.valueOf("1960-01-01")),
        col("id").cast("int")).as("d")).repartitionByRange(3, col("id")))
    val seg = store.liveSegmentInfos().head
    assert(new java.io.File(s"$root/${seg.name}").list()
      .count(_.endsWith(".parquet")) == 3)
    checkBounds(store, root, "d")
    checkBounds(store, root, "id")
  }

  test("far-year dates stay byte-identical to the aggregation's") {
    val root = tmp() + "/dfar"
    val store = new LogStore(spark, root, statsCol = Some("d"))
    // year 10000 spells "+10000-01-01", as the cast spells it
    store.append(spark.range(0, 3).select(col("id"),
      date_add(lit(java.sql.Date.valueOf("9999-12-31")),
        col("id").cast("int")).as("d")))
    checkBounds(store, root, "d")
    assert(store.liveSegmentInfos().head.boundsOf("d")
      .exists(_._2.startsWith("+10000")))
  }
}
