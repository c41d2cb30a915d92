package graft.catalog

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** CREATE-time column DEFAULTs: the SQL surface records Spark's own
  * CURRENT_DEFAULT metadata through the log, the analyzer fills SQL
  * INSERTs, the log's write funnel materializes the same literal for
  * programmatic narrow appends (no write path leaves a
  * default-bearing column to null-fill), staged narrow writes that
  * cannot be padded refuse, ALTER-time defaults refuse, and the
  * CHECK gate sees the materialized default. */
class ColumnDefaultSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val root = {
    val dir = Files.createTempDirectory("graft-defcat").toString
    spark.conf.set("spark.sql.catalog.gdef",
      "graft.sources.GraftLogCatalog")
    spark.conf.set("spark.sql.catalog.gdef.root", dir)
    dir
  }

  test("SQL surface: CREATE TABLE ... DEFAULT records the metadata, " +
      "INSERT with a column list and the DEFAULT keyword both fill, " +
      "and a fresh catalog handle (restart) reads the same values") {
    root
    spark.sql("CREATE TABLE gdef.t (id BIGINT, qty DOUBLE DEFAULT " +
      "1.5, tag STRING DEFAULT 'en')")
    spark.sql("INSERT INTO gdef.t (id) VALUES (1)")
    spark.sql("INSERT INTO gdef.t VALUES (2, DEFAULT, DEFAULT)")
    spark.sql("INSERT INTO gdef.t VALUES (3, 9.0, 'fr')")
    val rows = spark.sql("SELECT id, qty, tag FROM gdef.t")
      .as[(Long, Double, String)].collect().toSet
    assert(rows == Set((1L, 1.5, "en"), (2L, 1.5, "en"),
      (3L, 9.0, "fr")))
    // the default rides the recorded schema, not session state
    val store = LogStore.configured(spark, s"$root/t")
    val f = store.read().schema("qty")
    assert(f.metadata.contains("CURRENT_DEFAULT") &&
      f.metadata.getString("CURRENT_DEFAULT") == "1.5")
    // UPDATE ... SET col = DEFAULT resolves through the same metadata
    spark.sql("UPDATE gdef.t SET qty = DEFAULT WHERE id = 3")
    assert(spark.sql("SELECT qty FROM gdef.t WHERE id = 3")
      .as[Double].head() == 1.5)
  }

  test("programmatic narrow append materializes the DEFAULT literal " +
      "(not NULL), explicit NULL stays NULL, and the CHECK gate sees " +
      "the materialized value") {
    root
    spark.sql("CREATE TABLE gdef.p (id BIGINT, qty DOUBLE DEFAULT " +
      "2.5)")
    val store = LogStore.configured(spark, s"$root/p")
    store.append(Seq(Tuple1(10L)).toDF("id"))
    // an explicitly present column is untouched — NULL stays NULL
    store.append(Seq((11L, Option.empty[Double]))
      .toDF("id", "qty"))
    val rows = store.read().select("id", "qty")
      .as[(Long, Option[Double])].collect().toMap
    assert(rows == Map(10L -> Some(2.5), 11L -> None))
    // a constraint over the default-bearing column judges the
    // MATERIALIZED default: qty >= 2 passes the 2.5 default...
    store.addCheckConstraint("qty_floor", "qty >= 2 OR qty IS NULL")
    store.append(Seq(Tuple1(12L)).toDF("id"))
    assert(store.read().count() == 3L)
    // ...and a default that VIOLATES a constraint refuses the narrow
    // append (the gate sees 0.5, never the NULL a gate-then-pad
    // ordering would pass)
    spark.sql("CREATE TABLE gdef.q (id BIGINT, qty DOUBLE DEFAULT " +
      "0.5)")
    val q = LogStore.configured(spark, s"$root/q")
    q.append(Seq((0L, 5.0)).toDF("id", "qty"))
    q.addCheckConstraint("qty_floor", "qty >= 2 OR qty IS NULL")
    val e = intercept[Exception] {
      q.append(Seq(Tuple1(13L)).toDF("id"))
    }
    val chain = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(chain.contains("qty_floor"))
    assert(q.read().count() == 1L)
  }

  test("a narrow keyed upsert materializes the DEFAULT whether or not " +
      "it touches a stored segment, on both entry points") {
    root
    spark.sql("CREATE TABLE gdef.u (id BIGINT, qty DOUBLE DEFAULT 2.5)")
    val store = LogStore.configured(spark, s"$root/u")
    store.append(Seq((1L, 9.0), (2L, 8.0)).toDF("id", "qty"))
    store.mergeKeyed(Seq(1L, 3L).toDF("id"), Seq("id"))
    store.applyChangesKeyed(Seq(4L).toDF("id"),
      Seq.empty[Long].toDF("id"), Seq("id"), 1L)
    assert(store.read().select("id", "qty").as[(Long, Double)].collect()
      .toMap == Map(1L -> 2.5, 2L -> 8.0, 3L -> 2.5, 4L -> 2.5))
  }

  test("a path-based staged write omitting a default-bearing column " +
      "refuses (executor files cannot be padded after the fact); " +
      "ALTER TABLE ADD COLUMN ... DEFAULT refuses (CREATE-time only)") {
    root
    spark.sql("CREATE TABLE gdef.s (id BIGINT, qty DOUBLE DEFAULT " +
      "3.5)")
    spark.sql("INSERT INTO gdef.s (id) VALUES (1)")
    val e1 = intercept[Exception] {
      Seq(Tuple1(2L)).toDF("id").write.format("graft-log")
        .option("path", s"$root/s").mode("append").save()
    }
    val chain = Iterator.iterate(e1: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(chain.contains("default-bearing"))
    assert(LogStore.configured(spark, s"$root/s").read().count() == 1L)
    // a WIDE path write including the column is fine
    Seq((2L, 7.0)).toDF("id", "qty").write.format("graft-log")
      .option("path", s"$root/s").mode("append").save()
    assert(LogStore.configured(spark, s"$root/s").read().count() == 2L)
    val e2 = intercept[Exception] {
      spark.sql(
        "ALTER TABLE gdef.s ADD COLUMN extra DOUBLE DEFAULT 9.9")
    }
    assert(e2.getMessage.contains("CREATE-time") ||
      Option(e2.getCause).exists(c =>
        Option(c.getMessage).exists(_.contains("CREATE-time"))))
  }
}
