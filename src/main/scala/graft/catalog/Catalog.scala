package graft.catalog

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Logical-name → parquet-path catalog over a scale-factor directory
  * (`/root/testdata/sf*` layout, one parquet per table). */
final case class TestDataCatalog(dir: String) {
  def path(name: String): String = s"$dir/$name.parquet"
  def table(spark: SparkSession, name: String): DataFrame =
    spark.read.parquet(path(name))
}

/** Append-only table store with on-write schema evolution and
  * missing-table-tolerant reads — the Spark re-expression of the
  * reference's BigQuery sink behavior:
  *
  *  - create-if-missing + evolve-by-diffing-nullable-columns
  *    (reference `src/services/bigquery.ts:67-110`): parquet append +
  *    `mergeSchema` on read makes the union-of-schemas view automatic;
  *    `ensureCompatible` reproduces the explicit missing-field diff so
  *    callers can assert evolution is append-nullable-only.
  *  - read of an absent table returns an empty frame of the expected
  *    schema (reference `src/services/bigquery.ts:159-165`).
  *
  * Writes are partitioned by a date column when provided — at 100 TB the
  * daily-slice predicates (`billing_date = d`, SURVEY §2.1 S3/F3) then
  * become partition pruning instead of full scans.
  */
class AppendStore(spark: SparkSession, val path: String,
    partitionCol: Option[String] = None) {

  private def fsExists: Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).nonEmpty
  }

  /** S3 semantics: absent table ⇒ empty frame with the caller's schema. */
  def readOrEmpty(schema: StructType): DataFrame =
    if (fsExists)
      spark.read.option("mergeSchema", "true").parquet(path)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** One partition of a partitioned store — the directory `value`
    * of the partition column was written to — read at the caller's
    * `schema` (the columns written there, less the partition column),
    * so no sibling partition is listed and no footer is read to infer
    * a schema: building the frame starts no Spark job. An absent
    * partition reads as an empty frame with that schema. */
  def readPartition(schema: StructType, value: String): DataFrame = {
    val c = partitionCol.getOrElse(throw new IllegalStateException(
      s"$path has no partition column"))
    val dir = new org.apache.hadoop.fs.Path(path,
      ExternalCatalogUtils.getPartitionPathString(c, value))
    if (dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(dir))
      spark.read.schema(schema).parquet(dir.toString)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }

  /** S4 semantics: append; new nullable columns simply widen the merged
    * read schema (old files read them as null). `created_at` is stamped
    * here if absent, mirroring `bigquery.ts:130-133`. */
  def append(df: DataFrame): Unit = {
    val stamped =
      if (df.columns.contains("created_at"))
        df.withColumn("created_at",
          coalesce(col("created_at"), current_timestamp()))
      else df.withColumn("created_at", current_timestamp())
    val writer = stamped.write.mode("append")
    partitionCol.fold(writer)(c => writer.partitionBy(c)).parquet(path)
  }

  /** The reference's evolution contract (`bigquery.ts:81-108`): the live
    * schema may only ever GAIN nullable fields relative to the expected
    * one. Returns the names of expected fields missing from the live
    * schema; throws if any missing field is non-nullable, because that
    * evolution is incompatible (old rows cannot backfill a REQUIRED
    * column) — mirroring the reference's explicit evolution check.
    * An absent table is creatable with any schema, so no check applies. */
  def missingNullableFields(expected: StructType): Seq[String] = {
    if (!fsExists) return expected.fieldNames.toSeq
    val live = spark.read.option("mergeSchema", "true").parquet(path).schema
    val liveNames = live.fieldNames.map(_.toLowerCase).toSet
    val missing = expected.fields.toSeq
      .filterNot(f => liveNames.contains(f.name.toLowerCase))
    val incompatible = missing.filterNot(_.nullable)
    if (incompatible.nonEmpty)
      throw new IllegalArgumentException(
        "incompatible schema evolution: missing fields must be nullable " +
          s"to be addable, got required: ${incompatible.map(_.name).mkString(", ")}")
    missing.map(_.name)
  }
}
