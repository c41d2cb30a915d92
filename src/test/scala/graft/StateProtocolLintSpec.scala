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
  */
class StateProtocolLintSpec extends AnyFunSuite {

  /** Every `src/main` line containing one of `banned`, as
    * `file:line: text`. */
  private def sitesOf(banned: Seq[String]): Seq[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
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
}
