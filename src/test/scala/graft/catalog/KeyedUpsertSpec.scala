package graft.catalog

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** `mergeKeyed(u, keys)` and `applyChangesKeyed(u, no deletes, keys, b)`
  * are one keyed upsert: on twin tables with the same history they
  * leave the same content and the same change feed, whether the key
  * prunes by stats or touches every segment, and when the update set
  * omits a column the table gained after the touched segments were
  * written. */
class KeyedUpsertSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def twins(statsCol: Option[String]): (LogStore, LogStore) = {
    def one() = new LogStore(spark,
      Files.createTempDirectory("graft-upsert").toString + "/t",
      statsCol = statsCol)
    (one(), one())
  }

  /** A frame's rows, column order normalized, as a sorted list. */
  private def rowsOf(df: DataFrame): Seq[Row] = {
    val cols = df.columns.sorted
    df.select(cols.map(c => col(s"`$c`")).toSeq: _*).collect().toSeq
      .sortBy(_.toString)
  }

  /** Upsert `u` into both twins (one per entry point) and check that
    * content and the commit's change feed agree; returns the merge's
    * result and the merged table. */
  private def sameOutcome(m: LogStore, a: LogStore, u: DataFrame,
      keys: Seq[String]): (m.MergeResult, Seq[Row]) = {
    val r = m.mergeKeyed(u, keys)
    val noDeletes = u.select(keys.map(col): _*).limit(0)
    val va = a.applyChangesKeyed(u, noDeletes, keys, 1L)
    assert(r.version == va)
    val content = rowsOf(m.read())
    assert(content == rowsOf(a.read()))
    val feedM = rowsOf(m.readChanges(r.version, r.version))
    assert(feedM.nonEmpty)
    assert(feedM == rowsOf(a.readChanges(va, va)))
    (r, content)
  }

  test("a single stats key: both prune to the overlapping segment and " +
      "agree") {
    val (m, a) = twins(Some("k"))
    Seq(m, a).foreach { t =>
      t.append((1L to 50L).map(k => (k, s"v$k")).toDF("k", "v"))
      t.append((51L to 100L).map(k => (k, s"v$k")).toDF("k", "v"))
    }
    val (r, content) = sameOutcome(m, a,
      Seq((7L, "x"), (0L, "new")).toDF("k", "v"), Seq("k"))
    assert(r.rewritten == 1 && r.live == 2)
    assert(content.size == 101)
    assert(content.contains(Row(7L, "x")) && content.contains(Row(0L, "new")))
  }

  test("a composite key with no stats column: both rewrite every " +
      "segment and agree") {
    val (m, a) = twins(None)
    Seq(m, a).foreach { t =>
      t.append(Seq((1L, "d1", "a"), (1L, "d2", "b")).toDF("id", "d", "v"))
      t.append(Seq((2L, "d1", "c")).toDF("id", "d", "v"))
    }
    val (r, content) = sameOutcome(m, a,
      Seq((1L, "d2", "B"), (3L, "d3", "n")).toDF("id", "d", "v"),
      Seq("id", "d"))
    assert(r.rewritten == 2 && r.live == 2)
    assert(content == Seq(Row("d1", 1L, "a"), Row("d1", 2L, "c"),
      Row("d2", 1L, "B"), Row("d3", 3L, "n")))
  }

  test("an update set that omits a column the table gained after the " +
      "touched segments were written: the column reads null on the " +
      "replaced rows, and both agree") {
    val (m, a) = twins(Some("k"))
    Seq(m, a).foreach { t =>
      t.append((1L to 10L).map(k => (k, s"v$k")).toDF("k", "v"))
      t.addColumns(StructType(Seq(StructField("note", StringType))))
      t.append(Seq((11L, "v11", "n11"), (12L, "v12", "n12"))
        .toDF("k", "v", "note"))
    }
    val (r, content) = sameOutcome(m, a,
      Seq((3L, "x"), (12L, "y")).toDF("k", "v"), Seq("k"))
    assert(r.rewritten == 2)
    assert(content.size == 12)
    // sorted columns: k, note, v
    assert(content.contains(Row(3L, null, "x")) &&
      content.contains(Row(12L, null, "y")) &&
      content.contains(Row(11L, "n11", "v11")))
  }
}
