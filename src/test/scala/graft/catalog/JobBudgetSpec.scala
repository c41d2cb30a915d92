package graft.catalog

import java.nio.file.Files

import org.apache.spark.TestBus
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.driver.BillingJob
import graft.model.BillingConfig
import graft.sinks.{BatchReport, ChargeSink, CollectingReportSink,
  FakeChargeClient}

/** Spark-job budgets of the table layer's hot paths and of one
  * `BillingJob` day: the exact number of jobs each call starts,
  * counted by a listener after the bus has drained. A regression (an
  * extra read-back, probe, report action or collect) fails here
  * instead of hiding in benchmark noise. The table shape is the
  * benchmark's churn table: stats on `k`, a Bloom filter on `sk`,
  * deletion vectors on. Every write here observes its Bloom bits in
  * its own job, so none of these counts includes a read-back Bloom
  * build (which cost two jobs per publish). */
class JobBudgetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The Spark jobs `body` starts. */
  private def jobsOf(body: => Any): Int = {
    // suites share the session: a stream left running would add jobs
    spark.streams.active.foreach(_.stop())
    TestBus.jobsOf(spark.sparkContext)(body)
  }

  private def churnTable(): LogStore = {
    val root = Files.createTempDirectory("graft-budget").toString + "/t"
    val store = new LogStore(spark, root, statsCol = Some("k"),
      bloomCol = Some("sk"), dvDeletes = true)
    store.create(rows(Nil).schema)
    store
  }

  private def rows(ks: Seq[Long]) =
    ks.map(k => (k, s"key-$k", 1L)).toDF("k", "sk", "v")

  test("append with stats and a Bloom column is one job (the write)") {
    val store = churnTable()
    store.append(rows(1L to 200L))
    assert(jobsOf(store.append(rows(201L to 400L))) == 1)
  }

  test("append with DATE stats is one job (the write records the bounds)") {
    val root = Files.createTempDirectory("graft-budget").toString + "/d"
    val store = new LogStore(spark, root, statsCol = Some("d"))
    def days(lo: Int) = (lo until lo + 100).map(i => (i.toLong, i))
      .toDF("id", "n").select(col("id"),
        date_add(lit(java.sql.Date.valueOf("1969-12-01")), col("n")).as("d"))
    store.append(days(0))
    assert(jobsOf(store.append(days(100))) == 1)
    assert(store.liveSegmentInfos().last.boundsOf("d").map(b =>
      (b._1, b._2)).contains(("1970-03-11", "1970-06-18")))
  }

  test("append with DOUBLE, DECIMAL or TIMESTAMP stats is one job " +
      "(the write's tasks record the bounds)") {
    Seq("CAST(id AS DOUBLE) / 3", "CAST(id AS DECIMAL(12, 2))",
        "TIMESTAMP_SECONDS(id * 3600)").foreach { e =>
      val root = Files.createTempDirectory("graft-budget").toString + "/s"
      val store = new LogStore(spark, root, statsCol = Some("s"))
      def batch(lo: Long) = spark.range(lo, lo + 100)
        .selectExpr("id", s"$e AS s")
      store.append(batch(0))
      assert(jobsOf(store.append(batch(100))) == 1, e)
      assert(store.liveSegmentInfos().forall(_.boundsOf("s").nonEmpty), e)
    }
  }

  /** A `graft-log` SQL catalog over a fresh directory, its table `t`
    * created with stats on `id` and a Bloom filter on `v` and holding
    * one INSERT's rows. */
  private def sqlTable(): String = {
    spark.conf.set("spark.sql.catalog.gbudget",
      "graft.sources.GraftLogCatalog")
    spark.conf.set("spark.sql.catalog.gbudget.root",
      Files.createTempDirectory("graft-budget").toString)
    spark.sql("DROP TABLE IF EXISTS gbudget.t")
    spark.sql("CREATE TABLE gbudget.t (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('statsCol' = 'id', 'bloomCol' = 'v')")
    spark.sql("INSERT INTO gbudget.t SELECT id, CAST(id AS STRING) " +
      "FROM range(0, 100)")
    "gbudget.t"
  }

  test("SQL INSERT into a stats + Bloom table is one job (the write)") {
    val t = sqlTable()
    assert(jobsOf(spark.sql(s"INSERT INTO $t SELECT id, " +
      "CAST(id AS STRING) FROM range(100, 200)")) == 1)
    assert(spark.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 200L)
  }

  test("SQL UPDATE on a stats + Bloom table is 6 jobs") {
    val t = sqlTable()
    assert(jobsOf(spark.sql(s"UPDATE $t SET v = concat('u-', v) " +
      "WHERE id < 10")) == 6)
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE v LIKE 'u-%'")
      .head().getLong(0) == 10L)
  }

  test("mergeKeyed on the churn table is 10 jobs") {
    val store = churnTable()
    store.append(rows(1L to 200L))
    store.append(rows(201L to 400L))
    assert(jobsOf(store.mergeKeyed(rows(Seq(5L, 250L, 401L)),
      Seq("k"))) == 10)
  }

  test("applyChangesKeyed with deletes on the churn table is 12 " +
      "jobs") {
    val store = churnTable()
    store.append(rows(1L to 200L))
    store.append(rows(201L to 400L))
    assert(jobsOf(store.applyChangesKeyed(rows(Seq(5L, 250L, 401L)),
      Seq(7L, 300L).toDF("k"), Seq("k"), 1L)) == 12)
  }

  test("deleteKeysDV on the churn table is 7 jobs") {
    val store = churnTable()
    store.append(rows(1L to 200L))
    store.append(rows(201L to 400L))
    assert(jobsOf(store.deleteKeysDV(Seq(7L, 300L).toDF("k"),
      Seq("k"))) == 7)
  }

  test("a Bloom point lookup and a stats range read are one job each " +
      "(the collect)") {
    val store = churnTable()
    store.append(rows(1L to 200L))
    store.append(rows(201L to 400L))
    var got: Array[org.apache.spark.sql.Row] = null
    assert(jobsOf { got = store.pointLookup("key-250")._1.collect() } == 1)
    assert(got.map(_.getLong(0)).toSeq == Seq(250L))
    assert(jobsOf { got = store.readRange("5", "9")._1.collect() } == 1)
    assert(got.map(_.getLong(0)).sorted.toSeq == (5L to 9L))
  }

  test("maintainLayout when it triggers is 2 jobs") {
    val store = churnTable()
    store.append(rows(1L to 200L))
    store.append(rows(201L to 400L))
    assert(jobsOf(store.maintainLayout(1L << 20, 2)) == 2)
    assert(store.liveSegmentInfos().size == 1)
  }

  /** The day's 7 jobs: the guard's `isEmpty` reads local rows here and
    * starts none; the pending append runs the page-view aggregate's
    * shuffle map stage, that aggregate's broadcast, the build of the
    * day's one cache (adaptive execution materializes a cached relation
    * as a stage of its own) and the write; the charge-results append is
    * one write job over the cache; the final append runs the broadcast
    * of the run's outcomes and the write. The report starts none: its
    * figures and top shops are observed inside the appends. */
  test("one BillingJob day is 7 jobs") {
    val dir = Files.createTempDirectory("graft-budget").toString
    val job = new BillingJob(spark, new AppendStore(spark, s"$dir/usage",
        partitionCol = Some("billing_date")),
      new ChargeSink(() => new FakeChargeClient(
        failTokens = Set("bad-token")), concurrency = 4, sleep = _ => ()),
      new CollectingReportSink, BillingConfig(ratePerMillion = 10000.0))
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val sessions = (1 to 12).map(i => (s"shop-$i",
        if (i == 3) "bad-token" else s"tok-$i", t, t))
      .toDF("shop", "accessToken", "createdAt", "updatedAt")
    val events = (1 to 10).flatMap(i => (1 to i).map(h =>
        (s"shop-$i.myshopify.com", "page_viewed",
          java.sql.Timestamp.valueOf(f"2024-01-1${i % 2 + 5} $h%02d:00:00"))))
      .toDF("shop", "name", "created_at")
    // the first day creates both stores; the second is a steady day
    job.processDailyBilling(sessions, events, "2024-01-15")
    var report: BatchReport = null
    val jobs = jobsOf {
      report = job.processDailyBilling(sessions, events, "2024-01-16")
    }
    assert(report.error.isEmpty && report.recordCount == 12)
    assert(jobs == 7)
  }

  test("optimize into two clustered segments is 3 jobs") {
    val store = churnTable()
    store.append(rows(1L to 200L))
    store.append(rows(201L to 400L))
    assert(jobsOf(store.optimize(2, col("k"))) == 3)
    assert(store.liveSegmentInfos().size == 2)
  }
}
