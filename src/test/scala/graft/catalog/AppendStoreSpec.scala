package graft.catalog

import java.nio.file.Files
import java.sql.{Date, Timestamp}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.Schemas

class AppendStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft-store").toString

  test("S3: absent table reads as empty frame with the expected schema") {
    val store = new AppendStore(spark, tmp() + "/none")
    val df = store.readOrEmpty(Schemas.usageRecords)
    assert(df.count() == 0)
    assert(df.schema.fieldNames.toSeq == Schemas.usageRecords.fieldNames.toSeq)
  }

  test("S4: append stamps created_at and evolves schema by union of columns") {
    val path = tmp() + "/usage"
    val store = new AppendStore(spark, path)
    // v1 write: core columns only (old files lack the shopify_* fields)
    val v1 = Seq(("shop-a", Date.valueOf("2024-01-15"), 10L, 0.0, 10.0))
      .toDF("shop", "billing_date", "page_views", "billing_amount",
        "rate_per_million")
    store.append(v1)
    assert(store.missingNullableFields(Schemas.usageRecords).toSet ==
      Set("shopify_charge_id", "shopify_billing_status",
        "shopify_error_message", "shopify_processed_at"))
    // v2 write: full schema
    val v2 = Seq(("shop-a", Date.valueOf("2024-01-15"), 10L, 0.0, 10.0,
        "ch-1", "success", null.asInstanceOf[String],
        Timestamp.valueOf("2024-01-16 01:00:00")))
      .toDF("shop", "billing_date", "page_views", "billing_amount",
        "rate_per_million", "shopify_charge_id", "shopify_billing_status",
        "shopify_error_message", "shopify_processed_at")
    store.append(v2)
    val merged = store.readOrEmpty(Schemas.usageRecords)
    assert(merged.count() == 2)
    // evolved read exposes the union schema; old rows have nulls
    assert(merged.columns.contains("shopify_billing_status"))
    assert(merged.where($"shopify_billing_status".isNull).count() == 1)
    assert(merged.where($"created_at".isNull).count() == 0,
      "append must stamp created_at")
    assert(store.missingNullableFields(Schemas.usageRecords).isEmpty)
  }

  /** A store partitioned by `run_id`, holding two runs whose ids need
    * escaping in a directory name, as the billing run ids do. */
  private def twoRuns(): AppendStore = {
    val store = new AppendStore(spark, tmp() + "/runs",
      partitionCol = Some("run_id"))
    store.append(Seq(("shop-a", 1L, "d#1:a"), ("shop-b", 2L, "d#1:a"))
      .toDF("shop", "n", "run_id"))
    store.append(Seq(("shop-a", 3L, "d#2:b")).toDF("shop", "n", "run_id"))
    store
  }

  private val runRows = Seq(("", 0L)).toDF("shop", "n").schema

  test("readPartition: an absent partition reads as an empty frame with " +
      "the caller's schema") {
    val df = twoRuns().readPartition(runRows, "d#3:c")
    assert(df.count() == 0)
    assert(df.schema == runRows)
  }

  test("readPartition: a present partition returns only its own rows") {
    val got = twoRuns().readPartition(runRows, "d#1:a")
      .as[(String, Long)].collect().toSet
    assert(got == Set(("shop-a", 1L), ("shop-b", 2L)))
  }

  test("readPartition: building the frame starts no Spark job") {
    val store = twoRuns()
    assert(org.apache.spark.TestBus.jobsOf(spark.sparkContext) {
      store.readPartition(runRows, "d#2:b")
      store.readPartition(runRows, "d#3:c")
    } == 0)
  }

  test("S4: caller-provided created_at is preserved, not overwritten") {
    val store = new AppendStore(spark, tmp() + "/preserve")
    val t = Timestamp.valueOf("2020-06-01 12:00:00")
    val df = Seq(("shop-a", t)).toDF("shop", "created_at")
    store.append(df)
    val got = store.readOrEmpty(df.schema).select("created_at")
      .as[Timestamp].head()
    assert(got == t)
  }
}
