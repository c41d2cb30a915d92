package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source lint keeping streaming state on ONE protocol: derived state
  * lives in LogStore tables fenced by the log's `txn` action
  * (`StreamingOps.foldState` → `LogStore.rebuildWithFence`). The
  * hand-made protocol it replaced — a fence column stamped into
  * every state row and a rename swap to land the rewrite — must not
  * come back under any spelling that names it, so any of these
  * tokens in `src/main` fails the build.
  */
class StateProtocolLintSpec extends AnyFunSuite {

  private val banned = Seq("_batch_id", "_synced_version", "replaceTable",
    "idempotentBatchAppend")

  test("no second state protocol in src/main: no fence column, no " +
      "rename-swap table replace") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val sites: Seq[String] = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (l, i) if banned.exists(l.contains) =>
            s"${p.getFileName}:${i + 1}: ${l.trim}"
        }
      }.toSeq
    assert(sites.isEmpty,
      s"state outside the LogStore txn fence (use StreamingOps.foldState): " +
        sites.mkString("\n", "\n", ""))
  }
}
