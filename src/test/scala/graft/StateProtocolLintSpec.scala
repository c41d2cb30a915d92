package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source lints keeping `src/main` on ONE protocol per concern.
  *
  * Streaming state: derived state lives in LogStore tables fenced by
  * the log's `txn` action (`StreamingOps.foldState` →
  * `LogStore.rebuildWithFence`). The hand-made protocol it replaced —
  * a fence column stamped into every state row and a rename swap to
  * land the rewrite — must not come back under any spelling that
  * names it.
  *
  * Parquet encoding: every segment file is read and written through
  * Spark's `ParquetFileFormat`. A second, hand-written codec over
  * parquet-hadoop's example `Group` model must not come back.
  *
  * Segment statistics: the task that writes a segment file records its
  * rows, bounds and Bloom bits (`LogDataWriter`). No footer read, no
  * observed write and no bitmap Bloom build may come back in the table
  * layer (`graft/catalog`, `graft/sources`).
  */
class StateProtocolLintSpec extends AnyFunSuite {

  /** Every `src/main` line — under `dirs` of `src/main/scala` when
    * given — containing one of `banned`, as `file:line: text`. */
  private def sitesOf(banned: Seq[String],
      dirs: Seq[String] = Nil): Seq[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    dirs.foreach(d => assert(Files.isDirectory(root.resolve(d)), d))
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => dirs.isEmpty ||
        dirs.exists(d => p.startsWith(root.resolve(d))))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (l, i) if banned.exists(l.contains) =>
            s"${p.getFileName}:${i + 1}: ${l.trim}"
        }
      }.toSeq
  }

  test("no second state protocol in src/main: no fence column, no " +
      "rename-swap table replace") {
    val sites = sitesOf(Seq("_batch_id", "_synced_version",
      "replaceTable", "idempotentBatchAppend"))
    assert(sites.isEmpty,
      s"state outside the LogStore txn fence (use StreamingOps.foldState): " +
        sites.mkString("\n", "\n", ""))
  }

  test("no second parquet codec in src/main: no parquet-hadoop " +
      "example Group reader or writer") {
    val sites = sitesOf(Seq("org.apache.parquet.example",
      "GroupReadSupport", "ExampleParquetWriter"))
    assert(sites.isEmpty,
      s"parquet outside Spark's ParquetFileFormat: " +
        sites.mkString("\n", "\n", ""))
  }

  test("one segment-statistics path in the table layer: no footer " +
      "read, no observed write, no bitmap Bloom build") {
    val sites = sitesOf(Seq("ParquetFileReader", ".observe(",
      "bitmap_construct_agg"), dirs = Seq("graft/catalog", "graft/sources"))
    assert(sites.isEmpty,
      s"segment statistics outside the write tasks (LogDataWriter): " +
        sites.mkString("\n", "\n", ""))
  }
}
