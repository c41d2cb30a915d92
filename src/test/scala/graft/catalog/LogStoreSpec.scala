package graft.catalog

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The log-structured table's transactional contract: snapshot
  * isolation, time travel, logical delete, compaction invariance,
  * optimistic-concurrency conflict, and crash-invisibility of
  * unpublished segments. */
class LogStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fresh() = new LogStore(spark,
    Files.createTempDirectory("graft-log").toString + "/tbl")

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select(col("id")).as[Long].collect().toSet

  test("append versions accumulate; time travel pins old snapshots") {
    val t = fresh()
    val v0 = t.append((1L to 5L).toDF("id"))
    val v1 = t.append((6L to 8L).toDF("id"))
    assert(v0 == 0 && v1 == 1)
    assert(ids(t.read()) == (1L to 8L).toSet)
    assert(ids(t.read(0)) == (1L to 5L).toSet,
      "version 0 must still read exactly its own snapshot")
  }

  test("deleteWhere is a logical rewrite: latest loses the rows, the " +
      "prior version keeps them") {
    val t = fresh()
    t.append((1L to 10L).toDF("id"))
    val v = t.deleteWhere("id % 2 = 0")
    assert(ids(t.read()) == Set(1L, 3L, 5L, 7L, 9L))
    assert(ids(t.read(v - 1)) == (1L to 10L).toSet,
      "pre-delete snapshot must be unaffected")
  }

  test("deleteWhere keeps a row whose predicate is NULL and emits no " +
      "delete for it") {
    val t = fresh()
    t.append(Seq((1L, Some("a")), (2L, None), (3L, Some("b")))
      .toDF("id", "s"))
    val v = t.deleteWhere("s = 'a'")
    assert(ids(t.read()) == Set(2L, 3L))
    assert(t.readChanges(v, v).select(col("_change_type"), col("id"))
      .as[(String, Long)].collect().toSeq == Seq(("delete", 1L)))
  }

  test("compaction preserves rows exactly and collapses to one " +
      "segment; the pre-compaction version stays readable") {
    val t = fresh()
    t.append((1L to 4L).toDF("id"))
    t.append((5L to 9L).toDF("id"))
    val before = t.latestVersion()
    assert(t.liveSegments(before).size == 2)
    t.compact()
    assert(t.liveSegments().size == 1)
    assert(ids(t.read()) == (1L to 9L).toSet)
    assert(ids(t.read(before)) == (1L to 9L).toSet)
    assert(t.liveSegments(before).size == 2,
      "time travel must replay the uncompacted file list")
  }

  test("optimistic concurrency: a transaction based on a stale " +
      "snapshot loses its commit slot loudly") {
    val t = fresh()
    t.append((1L to 3L).toDF("id"))
    val myBase = t.latestVersion() // transaction reads at version 0
    // a racing writer lands version 1 first
    val hadoop = new org.apache.hadoop.fs.Path(t.root + "/_log/00000001.json")
    val fs = hadoop.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(hadoop, false)
    out.write("{\"add\":\"seg-other\"}\n".getBytes("UTF-8"))
    out.close()
    // the stale transaction must NOT silently land on top
    intercept[t.ConcurrentCommitException] {
      t.append((4L to 6L).toDF("id"), baseVersion = myBase)
    }
  }

  test("a written-but-unpublished segment is invisible (crash between " +
      "data write and log publish)") {
    val t = fresh()
    t.append((1L to 3L).toDF("id"))
    (100L to 105L).toDF("id").write.parquet(t.root + "/seg-orphan")
    assert(ids(t.read()) == (1L to 3L).toSet,
      "readers must only see segments the log publishes")
  }

  test("data skipping: a range read scans only segments whose min/max " +
      "overlap, without touching the others' parquet") {
    val t = new LogStore(spark,
      Files.createTempDirectory("graft-log").toString + "/tbl",
      statsCol = Some("id"))
    t.append((1L to 100L).toDF("id"))
    t.append((1000L to 1100L).toDF("id"))
    t.append((5000L to 5100L).toDF("id"))
    val (df, scanned, live) = t.readRange("1050", "1060")
    assert(live == 3 && scanned == 1,
      s"only the middle segment overlaps [1050,1060]: $scanned/$live")
    assert(ids(df) == (1050L to 1060L).toSet)
    // numeric compare, not lexicographic: "999" > "1000" as strings,
    // but segment [1000,1100] must still be the only hit for [999,1001]
    val (df2, scanned2, _) = t.readRange("999", "1001")
    assert(scanned2 == 1 && ids(df2) == Set(1000L, 1001L))
    // a miss range scans nothing and returns empty
    val (df3, scanned3, _) = t.readRange("200", "900")
    assert(scanned3 == 0 && df3.count() == 0)
  }

  test("merge: copy-on-write upsert rewrites ONLY stats-overlapping " +
      "segments; matched rows replaced, unmatched inserted; the " +
      "pre-merge snapshot stays readable") {
    val t = new LogStore(spark,
      Files.createTempDirectory("graft-log").toString + "/tbl",
      statsCol = Some("id"))
    t.append(Seq((1L, "a"), (2L, "a"), (3L, "a")).toDF("id", "v"))
    t.append(Seq((10L, "b"), (11L, "b")).toDF("id", "v"))
    t.append(Seq((20L, "c"), (21L, "c")).toDF("id", "v"))
    val before = t.latestVersion()

    // keys 10 (update) and 12 (insert) both land in [10, 12]: only the
    // middle segment's range overlaps — segments 1 and 3 carry over
    val r = t.merge(Seq((10L, "B"), (12L, "B")).toDF("id", "v"), "id")
    assert(r.live == 3 && r.rewritten == 1,
      s"only the [10,11] segment overlaps keys [10,12]: $r")
    val now = t.read().as[(Long, String)].collect().toMap
    assert(now == Map(1L -> "a", 2L -> "a", 3L -> "a",
      10L -> "B", 11L -> "b", 12L -> "B", 20L -> "c", 21L -> "c"),
      "10 replaced, 12 inserted, everything else untouched")
    // time travel: the pre-merge snapshot still shows the old row
    assert(t.read(before).where(col("id") === 10L)
      .select(col("v")).as[String].head() == "b")

    // a pure insert outside every live range rewrites NOTHING
    val r2 = t.merge(Seq((99L, "z")).toDF("id", "v"), "id")
    assert(r2.rewritten == 0, s"no segment overlaps key 99: $r2")
    assert(t.read().count() == 9)

    // duplicate update keys are the ambiguity SQL MERGE rejects
    intercept[IllegalArgumentException] {
      t.merge(Seq((1L, "x"), (1L, "y")).toDF("id", "v"), "id")
    }
  }

  test("change data feed: appends imply inserts, merge emits " +
      "pre/post/insert, delete emits deletes, compaction changes " +
      "nothing, and replaying the feed reconstructs the snapshot") {
    val t = new LogStore(spark,
      Files.createTempDirectory("graft-log").toString + "/tbl",
      statsCol = Some("id"))
    t.append(Seq((1L, "a"), (2L, "a")).toDF("id", "v"))          // v0
    t.append(Seq((3L, "b")).toDF("id", "v"))                     // v1
    t.merge(Seq((2L, "B"), (4L, "c")).toDF("id", "v"), "id")     // v2
    t.deleteWhere("id = 1")                                      // v3
    t.compact()                                                  // v4

    val ch = t.readChanges(0)
      .select("id", "v", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect()
    def at(ver: Long, typ: String): Set[(Long, String)] =
      ch.filter(c => c._4 == ver && c._3 == typ)
        .map(c => (c._1, c._2)).toSet
    assert(at(0, "insert") == Set(1L -> "a", 2L -> "a"),
      "a pure-add commit IS its own change feed")
    assert(at(1, "insert") == Set(3L -> "b"))
    assert(at(2, "update_preimage") == Set(2L -> "a"))
    assert(at(2, "update_postimage") == Set(2L -> "B"))
    assert(at(2, "insert") == Set(4L -> "c"))
    assert(at(3, "delete") == Set(1L -> "a"))
    assert(!ch.exists(_._4 == 4L),
      "compaction moved bytes but changed no data — dataChange=false")
    assert(t.readChanges(4, 4).count() == 0)

    // the CDF replay invariant: fold the feed version by version
    // (removals before additions inside a version) onto an empty map —
    // the result must BE the latest snapshot
    val state = scala.collection.mutable.Map.empty[Long, String]
    ch.groupBy(_._4).toSeq.sortBy(_._1).foreach { case (_, cs) =>
      cs.filter(c => c._3 == "delete" || c._3 == "update_preimage")
        .foreach(c => state -= c._1)
      cs.filter(c => c._3 == "insert" || c._3 == "update_postimage")
        .foreach(c => state(c._1) = c._2)
    }
    assert(state.toMap == t.read().as[(Long, String)].collect().toMap,
      "incremental consumers of the feed must converge to the snapshot")

    // vacuum: change payloads behind the horizon are physically
    // reclaimed and the read refuses loudly; at/after it still works
    val r = t.vacuum(retainLast = 2, orphanMinAgeMs = 0L) // horizon=3
    assert(r.deleted.exists(_.startsWith("cdc-")),
      "v2's change segment is behind the horizon — reclaimed")
    intercept[IllegalStateException] { t.readChanges(0) }
    assert(t.readChanges(3).where(col("_change_type") === "delete")
      .count() == 1, "the horizon version's feed must survive vacuum")
  }

  test("cdcToDiff: the change feed drives incremental sum/count " +
      "maintenance to exactly the latest snapshot's aggregate — " +
      "including a row that MOVES groups in a merge") {
    import graft.operators.RelationalOps
    import org.apache.spark.sql.types.DecimalType
    val t = new LogStore(spark,
      Files.createTempDirectory("graft-log").toString + "/tbl",
      statsCol = Some("id"))
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("grp")).agg(count(lit(1)).as("cnt"),
        sum(col("v").cast(DecimalType(18, 4))).as("sm"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("grp"), col("cnt"), col("sm").cast("double"))
        .as[(String, Long, Double)].collect().toSet

    t.append(Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0),
      (4L, "b", 40.0)).toDF("id", "grp", "v"))            // v0: base
    val base = agg(t.read(0)).localCheckpoint(true)
    // v1: id 2 changes value; id 3 MOVES a→... wait for group move:
    // id 3 moves from b to a (pre must leave b, post must enter a);
    // id 9 is a fresh insert
    t.merge(Seq((2L, "a", 25.0), (3L, "a", 30.0), (9L, "c", 9.0))
      .toDF("id", "grp", "v"), "id")
    t.deleteWhere("id = 4")                                // v2
    val diff = RelationalOps.cdcToDiff(
      t.readChanges(1), idCol = "id", key = "grp", value = "v")
    val maintained = RelationalOps
      .applyDiffToSumCount(base, diff, "grp", "v")
    assert(rows(maintained) == rows(agg(t.read())),
      "feed-driven maintenance must equal the full recompute")
  }

  test("syncSumCountFromLog: cold-starts from the feed alone, absorbs " +
      "each commit range exactly once, and always equals the full " +
      "recompute of the snapshot it has reached") {
    import graft.streaming.StreamingOps
    import org.apache.spark.sql.types.DecimalType
    val t = new LogStore(spark,
      Files.createTempDirectory("graft-log").toString + "/tbl",
      statsCol = Some("id"))
    val statePath =
      Files.createTempDirectory("graft-sync").toString + "/state"
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("grp")).agg(count(lit(1)).as("cnt"),
        sum(col("v").cast(DecimalType(18, 4))).as("sm"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("grp"), col("cnt"), col("sm").cast("double"))
        .as[(String, Long, Double)].collect().toSet
    def stateRows() = rows(new LogStore(spark, statePath).read())

    // cold start: an EMPTY aggregate with no fence — the feed builds it
    new LogStore(spark, statePath)
      .append(agg(Seq.empty[(Long, String, Double)].toDF("id", "grp", "v")))

    t.append(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "grp", "v"))
    assert(StreamingOps.syncSumCountFromLog(spark, t, statePath,
      "id", "grp", "v") == 0L)
    assert(stateRows() == rows(agg(t.read())))

    t.merge(Seq((2L, "b", 25.0), (3L, "a", 5.0)).toDF("id", "grp", "v"),
      "id")
    t.deleteWhere("id = 1")
    assert(StreamingOps.syncSumCountFromLog(spark, t, statePath,
      "id", "grp", "v") == 2L)
    assert(stateRows() == rows(agg(t.read())),
      "two commits absorbed in one O(changed-rows) sync")

    // replayed sync with nothing new: fenced no-op, state unchanged
    val before = stateRows()
    assert(StreamingOps.syncSumCountFromLog(spark, t, statePath,
      "id", "grp", "v") == 2L)
    assert(stateRows() == before)
  }

  test("schema evolution: an added column reads null on old segments " +
      "and time travel keeps the old shape; a type mutation is " +
      "REFUSED; the change feed spans the evolution") {
    val t = fresh()
    t.append(Seq((1L, "a")).toDF("id", "v"))                      // v0
    t.append(Seq((2L, "b", 9.5)).toDF("id", "v", "score"))        // v1

    val now = t.read()
    assert(now.columns.toSet == Set("id", "v", "score"))
    val byId = now.select(col("id"), col("score"))
      .as[(Long, Option[Double])].collect().toMap
    assert(byId == Map(1L -> None, 2L -> Some(9.5)),
      "pre-evolution rows read null in the added column")
    assert(t.read(0).columns.toSet == Set("id", "v"),
      "the v0 snapshot's schema is what v0's own segments carry")

    // enforcement: same column, different type — the lake-corruption
    // mode the table must refuse loudly
    val e = intercept[IllegalArgumentException] {
      t.append(Seq(("3", "c")).toDF("id", "v"))
    }
    assert(e.getMessage.contains("schema enforcement"), e.getMessage)

    // the feed spans the evolution: both shapes union, old changes
    // null-filled in the added column
    val ch = t.readChanges(0)
      .select(col("id"), col("score"), col("_commit_version"))
      .as[(Long, Option[Double], Long)].collect().toSet
    assert(ch == Set((1L, None, 0L), (2L, Some(9.5), 1L)))
  }

  test("merge without a usable stats column rewrites every segment " +
      "(the documented safe default) and still upserts correctly") {
    val t = fresh() // no statsCol
    t.append(Seq((1L, "a")).toDF("id", "v"))
    t.append(Seq((2L, "b")).toDF("id", "v"))
    val r = t.merge(Seq((2L, "B"), (3L, "c")).toDF("id", "v"), "id")
    assert(r.rewritten == 2 && r.live == 2,
      "no stats ⇒ every segment must be assumed to match")
    assert(t.read().as[(Long, String)].collect().toMap ==
      Map(1L -> "a", 2L -> "B", 3L -> "c"))
  }

  test("segments without stats are never skipped (stats are strictly " +
      "an optimization)") {
    val dir = Files.createTempDirectory("graft-log").toString + "/tbl"
    // first segment written WITHOUT stats config, second with
    new LogStore(spark, dir).append((1L to 5L).toDF("id"))
    val t = new LogStore(spark, dir, statsCol = Some("id"))
    t.append((100L to 110L).toDF("id"))
    val (df, scanned, live) = t.readRange("105", "106")
    assert(live == 2 && scanned == 2,
      "the stats-less segment must be assumed to overlap")
    assert(ids(df) == Set(105L, 106L))
  }

  test("appendStream: the txn action fences micro-batch replays " +
      "inside the table's own log") {
    val t = fresh()
    assert(t.appendStream((1L to 3L).toDF("id"), batchId = 0L) == 0L)
    assert(t.appendStream((4L to 6L).toDF("id"), batchId = 1L) == 1L)
    // at-least-once replay of batch 0: fenced, no duplicate rows
    assert(t.appendStream((1L to 3L).toDF("id"), batchId = 0L) == -1L)
    assert(ids(t.read()) == (1L to 6L).toSet)
    assert(t.lastTxn() == 1L)
  }

  test("checkpointing: a checkpoint-seeded snapshot is identical to a " +
      "full replay, through deletes, compaction and txns") {
    val dir = Files.createTempDirectory("graft-log").toString + "/tbl"
    val t = new LogStore(spark, dir, checkpointInterval = 2)
    t.append((1L to 10L).toDF("id"))            // v0
    t.append((11L to 20L).toDF("id"))           // v1
    t.deleteWhere("id % 2 = 0")                 // v2
    t.appendStream((21L to 25L).toDF("id"), 7L) // v3 (txn fence)
    t.compact()                                 // v4
    t.append((26L to 30L).toDF("id"))           // v5
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cps = fs.listStatus(new org.apache.hadoop.fs.Path(dir + "/_log"))
      .map(_.getPath.getName).filter(_.endsWith(".checkpoint"))
    assert(cps.nonEmpty, "interval-2 over 6 commits must checkpoint")
    // capture everything through the checkpoint-seeded path
    val liveCp = t.liveSegments()
    val txnCp = t.lastTxn()
    val rowsCp = ids(t.read())
    val travelCp = ids(t.read(1)) // pre-checkpoint version
    // destroy every checkpoint: the pure-replay path must agree exactly
    cps.foreach(c => fs.delete(
      new org.apache.hadoop.fs.Path(dir + "/_log/" + c), false))
    assert(t.liveSegments() == liveCp)
    assert(t.lastTxn() == txnCp)
    assert(ids(t.read()) == rowsCp)
    assert(ids(t.read(1)) == travelCp)
    assert(rowsCp ==
      ((1L to 20L).filter(_ % 2 == 1).toSet ++ (21L to 30L)))
    assert(txnCp == 7L)
  }

  test("vacuum: time travel works inside the retention horizon, fails " +
      "loudly beyond it, and physically deletes dead segments") {
    val dir = Files.createTempDirectory("graft-log").toString + "/tbl"
    val t = new LogStore(spark, dir)
    t.append((1L to 5L).toDF("id"))   // v0
    t.append((6L to 9L).toDF("id"))   // v1
    t.compact()                       // v2: v0/v1 segments now dead
    t.append((10L to 12L).toDF("id")) // v3
    val res = t.vacuum(retainLast = 2, orphanMinAgeMs = 0L) // horizon=v2
    assert(res.deleted.size == 2,
      s"the two pre-compaction segments must be reclaimed: $res")
    // inside the horizon: both retained snapshots read exactly
    assert(ids(t.read(2)) == (1L to 9L).toSet)
    assert(ids(t.read(3)) == (1L to 12L).toSet)
    assert(ids(t.read()) == (1L to 12L).toSet)
    // beyond the horizon: loud refusal, never a silently-partial read
    val e = intercept[IllegalStateException] { t.read(0) }
    assert(e.getMessage.contains("vacuum"),
      s"refusal must name the horizon: ${e.getMessage}")
    intercept[IllegalStateException] { t.liveSegments(1) }
    // the physical files are gone, not just delisted
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val segDirs = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("seg-")).toSet
    assert(segDirs == t.liveSegments(2).toSet ++ t.liveSegments(3).toSet)
  }

  test("vacuum reclaims a crash-orphaned segment but spares one " +
      "younger than the in-flight guard") {
    val dir = Files.createTempDirectory("graft-log").toString + "/tbl"
    val t = new LogStore(spark, dir)
    t.append((1L to 3L).toDF("id"))
    (100L to 105L).toDF("id").write.parquet(dir + "/seg-orphan")
    // the DEFAULT guard (an hour): the just-written orphan could be a
    // racing writer's uncommitted segment — spared without opting in
    assert(t.vacuum(retainLast = 10).deleted.isEmpty)
    assert(ids(t.read()) == (1L to 3L).toSet)
    // guard at 0 (test mode): the orphan is provably unreferenced by
    // any retained snapshot - reclaimed, table content untouched
    val res = t.vacuum(retainLast = 10, orphanMinAgeMs = 0L)
    assert(res.deleted == Seq("seg-orphan"))
    assert(ids(t.read()) == (1L to 3L).toSet)
  }

  test("string stats columns: grammar-SAFE spellings record bounds " +
      "and prune lexicographically; unsafe values (quotes, newlines, " +
      "non-ASCII) record NOTHING for that segment — always-scan, " +
      "never a broken log line, never a mis-prune") {
    val dir = Files.createTempDirectory("graft-log").toString + "/tbl"
    val t = new LogStore(spark, dir, statsCol = Some("s"))
    // unsafe values: the append LANDS, the segment just carries no
    // bounds (the old behavior refused the write outright — string
    // keys are too useful at 100 TB for that to stand)
    t.append(Seq((1L, "a\"b\nc")).toDF("id", "s"))
    assert(t.liveSegmentInfos().last.min.isEmpty &&
      t.liveSegmentInfos().last.max.isEmpty,
      "grammar-unsafe string values must record no bounds")
    t.append(Seq((2L, "mm"), (3L, "pp")).toDF("id", "s"))
    val safeSeg = t.liveSegmentInfos().last
    assert(safeSeg.min.contains("mm") && safeSeg.max.contains("pp"))
    // out-of-range probe: the bounded segment skips, the bound-less
    // one must be scanned (its content is unknowable from the log)
    val (df0, s0, l0) = t.readRange("zz", "zz")
    assert(l0 == 2 && s0 == 1 && df0.count() == 0,
      s"safe seg skipped, unsafe seg scanned: $s0 of $l0")
    val (df1, s1, _) = t.readRange("mm", "mm")
    assert(s1 == 2 && df1.count() == 1)
    // date/timestamp stats serialize quote-free and skip correctly
    val td = new LogStore(spark,
      Files.createTempDirectory("graft-log").toString + "/tbl",
      statsCol = Some("d"))
    td.append(spark.sql("SELECT DATE'2024-01-05' AS d"))
    td.append(spark.sql("SELECT DATE'2024-03-05' AS d"))
    val (df, scanned, live) = td.readRange("2024-03-01", "2024-03-31")
    assert(live == 2 && scanned == 1)
    assert(df.count() == 1)
  }

  test("MULTI-COLUMN Bloom filters: the primary and each name-keyed " +
      "extra prune independently with zero false negatives, the " +
      "hexes survive a SHARDED checkpoint's sidecars, a bloomCols " +
      "membership change keeps the still-valid hexes, and only a " +
      "bloomBits change clears them") {
    val dir = Files.createTempDirectory("graft-log").toString + "/tbl"
    val t = new LogStore(spark, dir, statsCol = Some("id"),
      bloomCol = Some("a"), bloomCols = Seq("b", "c"),
      checkpointInterval = 1000, checkpointShardRows = 2)
    // keys CLUSTER differently per column: b changes every 50 ids
    // (one or two segments hold any b-key), c every 80 (a c-key can
    // straddle two segments) — distinct per-column skip shapes
    def seg(lo: Int) = (lo until lo + 100)
      .map(i => (i.toLong, s"a$i", s"b${i / 50}", s"c${i / 80}"))
      .toDF("id", "a", "b", "c")
    (0 until 4).foreach(i => t.append(seg(i * 100)))
    // every configured column prunes on ITS OWN filter
    val (lkA, oA, lA) = t.pointLookup("a7")
    assert(lA == 4 && oA == 1 && lkA.count() == 1L)
    val (lkB, oB, _) = t.pointLookupOn("b", "b3")
    assert(oB < 4 && lkB.count() ==
      t.read().where(col("b") === "b3").count())
    val (lkC, oC, _) = t.pointLookupOn("c", "c2")
    assert(oC < 4 && lkC.count() ==
      t.read().where(col("c") === "c2").count())
    intercept[IllegalArgumentException] { t.pointLookupOn("id", "5") }
    // hexes survive a SHARDED checkpoint: parts strip them, the
    // sidecars carry primary AND name-keyed together
    t.checkpoint()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val latest = t.latestVersion()
    (0L until latest).foreach(v => fs.delete(
      new org.apache.hadoop.fs.Path(f"$dir/_log/$v%08d.json"), false))
    val r = LogStore.configured(spark, dir)
    val (lkB2, oB2, _) = r.pointLookupOn("b", "b3")
    assert(oB2 == oB && lkB2.count() == lkB.count(),
      "sidecar-served extra blooms must prune identically")
    // membership change: dropping c from the config leaves b's hexes
    // VALID (name-keyed, value-derived) — no clearance, still pruning
    r.setProperties(Map("bloomCols" -> "b"))
    val r2 = LogStore.configured(spark, dir)
    val (_, oB3, _) = r2.pointLookupOn("b", "b3")
    assert(oB3 == oB, "a membership change must not shed valid hexes")
    intercept[IllegalArgumentException] { r2.pointLookupOn("c", "c2") }
    // re-entering keeps working too (the old hexes are still correct)
    r2.setProperties(Map("bloomCols" -> "b,c"))
    val r3 = LogStore.configured(spark, dir)
    val (lkC2, oC2, _) = r3.pointLookupOn("c", "c2")
    assert(oC2 == oC && lkC2.count() == lkC.count(),
      "re-entering bloomCols must reuse the recorded hexes")
  }

  test("column mapping through the programmatic surfaces: rename " +
      "then merge / DV delete / change feed / checkpoint round trip " +
      "all speak the NEW logical name while the files keep the " +
      "stable physical one") {
    val dir = Files.createTempDirectory("graft-log").toString + "/tbl"
    val t = new LogStore(spark, dir, statsCol = Some("id"),
      checkpointInterval = 3, dvDeletes = true)
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "label"))
    t.renameColumn("label", "tag")
    // merge keyed on id carries the renamed column through a rewrite
    t.merge(Seq((2L, "B!"), (9L, "i")).toDF("id", "tag"), "id")
    assert(t.read().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "B!"), (3L, "c"), (9L, "i")))
    // a DV delete whose predicate names the NEW column
    t.deleteWhereDV("tag = 'c'")
    assert(t.read().count() == 3L)
    assert(t.read().where(col("tag") === "c").count() == 0L)
    // the feed speaks the current logical name for plain appends
    t.append(Seq((20L, "t")).toDF("id", "tag"))
    val feed = t.readChanges(t.latestVersion(), t.latestVersion())
    assert(feed.columns.contains("tag") && feed.count() == 1L)
    // checkpoint + fresh path-only handle: the mapping rides the
    // schema action, so resolution from the checkpoint keeps it
    t.checkpoint()
    val r = LogStore.configured(spark, dir)
    assert(r.read().columns.toSeq == Seq("id", "tag"))
    assert(r.read().where(col("tag") === "B!").count() == 1L)
    // OPTIMIZE (the clustered rewrite) keeps the mapping: rewritten
    // files stay physical, reads stay logical, skipping stats intact
    r.optimize(2, col("id"))
    assert(r.read().where(col("tag") === "B!").count() == 1L)
    val (_, scanned, live) = r.readRange("20", "20")
    assert(live == 2 && scanned == 1,
      s"post-optimize bounds must still prune: $scanned of $live")
    // the physical name on disk really is the ORIGINAL — the whole
    // point of the mapping (no segment rewrite at rename time writes
    // logical names, and neither does the optimize rewrite)
    val anySeg = r.liveSegmentInfos().head.name
    val onDisk = spark.read.parquet(s"$dir/$anySeg").columns.toSeq
    assert(onDisk.contains("label") && !onDisk.contains("tag"),
      s"files must keep the physical name: $onDisk")
  }

  test("a non-conflict I/O failure during commit is NOT misreported " +
      "as a concurrent commit") {
    val t = fresh()
    t.append((1L to 3L).toDF("id"))
    // replace the _log DIRECTORY with a regular file: every commit-
    // path filesystem op now fails with a plain IOException, which
    // must surface as itself — misreporting it as a conflict would
    // steer callers into a hopeless rebase-and-retry loop
    val fs = new org.apache.hadoop.fs.Path(t.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(t.root + "/_log"), true)
    val out = fs.create(new org.apache.hadoop.fs.Path(t.root + "/_log"), false)
    out.write("not a directory".getBytes("UTF-8")); out.close()
    val e = intercept[java.io.IOException] {
      t.append((4L to 6L).toDF("id"))
    }
    assert(!e.isInstanceOf[t.ConcurrentCommitException],
      s"an environment failure is not a conflict: $e")
  }

  test("streamingLogIngest: a real file stream lands each micro-batch " +
      "as one committed version, exactly once") {
    import graft.streaming.StreamingOps
    val base = Files.createTempDirectory("graft-logstream").toString
    val t = new LogStore(spark, s"$base/tbl")
    val b0 = (1L to 50L).toDF("id")
    b0.write.parquet(s"$base/rows")
    val q = StreamingOps.streamingLogIngest(spark, s"$base/rows",
      b0.schema, t, s"$base/ckpt")
    try {
      q.processAllAvailable()
      (51L to 80L).toDF("id").write.mode("append").parquet(s"$base/rows")
      q.processAllAvailable()
      assert(ids(t.read()) == (1L to 80L).toSet)
    } finally q.stop()
    // replay the first batch by hand: the log fence rejects it
    assert(t.appendStream(b0, batchId = 0L) == -1L)
    assert(ids(t.read()) == (1L to 80L).toSet)
  }

  test("restore x bloom interplay: a RESTORE re-publishes segments " +
      "WITH their Bloom filters, so point lookups skip identically " +
      "after the rollback") {
    val dir = Files.createTempDirectory("graft-log").toString + "/tbl"
    val t = new LogStore(spark, dir, bloomCol = Some("k"))
    def seg(keys: Seq[String]) =
      keys.zipWithIndex.map { case (k, i) => (k, i.toLong) }
        .toDF("k", "v")
    t.append(seg(Seq("alpha.example", "beta.example")))   // v0
    t.append(seg(Seq("gamma.example")))                   // v1
    t.deleteWhere("k = 'alpha.example'")                  // v2
    val (preMiss, preScan, _) = t.pointLookup("alpha.example")
    assert(preMiss.count() == 0L,
      s"deleted key gone at v2 (scanned $preScan)")
    t.restore(1)                                          // v3
    // the restored segments carry their original add actions — bloom
    // included — so the lookup both FINDS the row and SKIPS the
    // unrelated segment
    val (hit, scanned, live) = t.pointLookup("alpha.example")
    assert(hit.count() == 1L && live == 2 && scanned == 1,
      s"restored bloom must still skip: scanned $scanned of $live")
  }

  test("describeHistory: one audit row per version with the honest " +
      "action profile and operation label") {
    val t = fresh()
    t.append((1L to 5L).toDF("id"))        // v0 APPEND
    t.appendStream((6L to 8L).toDF("id"), batchId = 0L) // v1 STREAMING
    t.deleteWhere("id < 3")                // v2 REWRITE (+ cdc)
    t.compact()                            // v3 REWRITE
    t.vacuum(retainLast = 2)               // v4 VACUUM
    val h = t.describeHistory()
      .select("version", "n_added", "n_removed", "n_cdc", "operation")
      .as[(Long, Int, Int, Int, String)].collect().sortBy(_._1)
    assert(h.map(_._1).toSeq == (0L to 4L))
    assert(h(0)._5 == "APPEND" && h(0)._2 == 1 && h(0)._3 == 0)
    assert(h(1)._5 == "STREAMING APPEND")
    assert(h(2)._5 == "REWRITE" && h(2)._2 == 1 && h(2)._3 == 2 &&
      h(2)._4 == 1, s"delete adds 1, removes 2, emits cdc: ${h(2)}")
    assert(h(3)._5 == "REWRITE" && h(3)._3 == 1)
    assert(h(4)._5 == "VACUUM")
    // LIMIT: "what just happened" reads ONLY the newest-n version
    // files — proven by deleting an old one: the limited audit never
    // opens it, the full audit (which must) now fails
    assert(t.describeHistory(2).select("version").as[Long].collect()
      .toSeq == Seq(3L, 4L))
    val fs = new org.apache.hadoop.fs.Path(t.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      t.root + "/_log/00000000.json"), false)
    assert(t.describeHistory(2).select("version").as[Long].collect()
      .toSeq == Seq(3L, 4L), "newest-2 must not touch version 0")
    // the FULL audit degrades GRACEFULLY over the missing prefix (the
    // shape vacuum's log trim leaves): surviving versions reported,
    // never a raw I/O crash
    assert(t.describeHistory().select("version").as[Long].collect()
      .toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("restore: rollback is a forward commit — content returns to " +
      "the target version, nothing is rewritten, the pre-restore " +
      "state stays time-travelable, vacuumed targets refuse") {
    val t = fresh()
    t.append((1L to 5L).toDF("id"))            // v0
    t.append((6L to 8L).toDF("id"))            // v1
    t.deleteWhere("id < 3")                    // v2
    assert(ids(t.read()) == (3L to 8L).toSet)
    val v3 = t.restore(1)
    assert(v3 == 3)
    // content is exactly the v1 snapshot again
    assert(ids(t.read()) == (1L to 8L).toSet)
    assert(ids(t.read(3)) == ids(t.read(1)))
    // an audited undo: the deleted state is STILL readable at v2
    assert(ids(t.read(2)) == (3L to 8L).toSet)
    // nothing was rewritten: the restored live set IS v1's segments
    assert(t.liveSegments(3).toSet == t.liveSegments(1).toSet)
    // restore beyond latest / negative refuses
    intercept[IllegalArgumentException] { t.restore(99) }
    // a vacuumed target refuses loudly (same guard as time travel)
    val tv = fresh()
    tv.append((1L to 3L).toDF("id"))           // v0
    tv.append((4L to 6L).toDF("id"))           // v1
    tv.deleteWhere("id <= 3")                  // v2 (v0 seg removed)
    tv.vacuum(retainLast = 1)
    val e = intercept[IllegalStateException] { tv.restore(0) }
    assert(e.getMessage.contains("vacuum"))
  }

  test("vacuum TRIMS the action log behind the horizon's checkpoint: " +
      "the _log directory stays bounded, everything inside the " +
      "horizon reads unchanged, trimmed history degrades loudly (time " +
      "travel) or gracefully (the audit), never as a raw I/O error") {
    val dir = Files.createTempDirectory("graft-log").toString + "/tbl"
    val t = new LogStore(spark, dir, checkpointInterval = 5)
    (0 until 12).foreach(i => t.append(Seq(i.toLong).toDF("id")))
    // horizon = 10; newest checkpoint at-or-below it = v10
    val res = t.vacuum(retainLast = 2, orphanMinAgeMs = 0L)
    assert(res.trimmedLogFiles > 0, s"expected a trim, got $res")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val logFiles = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$dir/_log"))
      .map(_.getPath.getName).toSet
    assert(!logFiles.exists(n => n.endsWith(".json") &&
      n.stripSuffix(".json").toLong < 10L),
      s"version files behind the horizon checkpoint must be gone: " +
        s"$logFiles")
    assert(!logFiles.exists(n => n.endsWith(".checkpoint") &&
      n.stripSuffix(".checkpoint").toLong < 10L),
      "superseded checkpoints must be gone")
    // inside the horizon: snapshot + time travel read exactly
    assert(ids(t.read()) == (0L to 11L).toSet)
    assert(ids(t.read(10)) == (0L to 10L).toSet)
    // a fresh path-only handle resolves from the surviving checkpoint
    assert(ids(new LogStore(spark, dir).read()) == (0L to 11L).toSet)
    // behind the horizon: the usual loud refusal, not FileNotFound
    val e = intercept[IllegalStateException] { t.read(3) }
    assert(e.getMessage.contains("vacuum"))
    // a timestamp resolving into the trimmed prefix refuses loudly too
    val e2 = intercept[IllegalStateException] { t.versionAsOf(0L) }
    assert(e2.getMessage.contains("trimmed") ||
      e2.getMessage.contains("horizon"))
    // the audit reports the surviving suffix, skipping trimmed rows
    val hist = t.describeHistory().select(col("version"))
      .as[Long].collect().toSeq
    assert(hist == (10L to 12L), s"surviving versions only: $hist")
    // and history bounded by limit still works
    assert(t.describeHistory(limit = 2).count() == 2L)
  }

  test("vacuum never trusts a checkpoint that does not replay: a " +
      "crash-truncated checkpoint (best-effort, non-atomic write) is " +
      "HEALED from the surviving version files before any deletion — " +
      "no live segment is lost, reads stay exact, the trim proceeds " +
      "behind the repaired snapshot") {
    val dir = Files.createTempDirectory("graft-log").toString + "/tbl"
    val t = new LogStore(spark, dir, checkpointInterval = 5)
    (0 until 12).foreach(i => t.append(Seq(i.toLong).toDF("id")))
    // simulate the crash: truncate the horizon checkpoint (v10) to its
    // first line — it still EXISTS and PARSES (the line-regex parser
    // happily reads fewer actions), it just replays to a subset. An
    // existence-only gate would then (a) compute vacuum's keep-set
    // from that subset and DELETE LIVE SEGMENTS, and (b) trim the
    // version prefix that was the only full-replay recovery path.
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val cpPath = new org.apache.hadoop.fs.Path(
      f"$dir/_log/${10L}%08d.checkpoint")
    assert(fs.exists(cpPath), "the interval checkpoint must exist")
    val in = fs.open(cpPath)
    val firstLine = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().next() finally in.close()
    val out = fs.create(cpPath, true)
    try out.write((firstLine + "\n").getBytes("UTF-8"))
    finally out.close()
    val res = t.vacuum(retainLast = 2, orphanMinAgeMs = 0L)
    // healed, then business as usual: every row still reads, at the
    // head AND at the horizon snapshot the repaired checkpoint seeds
    assert(ids(t.read()) == (0L to 11L).toSet,
      "no live segment may be lost to a truncated checkpoint")
    assert(ids(t.read(10)) == (0L to 10L).toSet)
    assert(res.trimmedLogFiles > 0,
      s"the trim proceeds behind the HEALED checkpoint: $res")
    // a fresh path-only handle resolves from the repaired checkpoint
    assert(ids(new LogStore(spark, dir).read()) == (0L to 11L).toSet)
  }

  test("vacuum REFUSES (loudly, zero deletions) when a checkpoint " +
      "does not replay and no independent version-file base survives " +
      "to repair it from") {
    val dir = Files.createTempDirectory("graft-log").toString + "/tbl"
    val t = new LogStore(spark, dir, checkpointInterval = 5)
    (0 until 12).foreach(i => t.append(Seq(i.toLong).toDF("id")))
    // a GOOD vacuum first: trims the prefix behind checkpoint v10,
    // making that checkpoint the mandatory replay base
    assert(t.vacuum(retainLast = 2, orphanMinAgeMs = 0L)
      .trimmedLogFiles > 0)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val cpPath = new org.apache.hadoop.fs.Path(
      f"$dir/_log/${10L}%08d.checkpoint")
    val in = fs.open(cpPath)
    val firstLine = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().next() finally in.close()
    val out = fs.create(cpPath, true)
    try out.write((firstLine + "\n").getBytes("UTF-8"))
    finally out.close()
    val segsBefore = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("seg-")).toSet
    val e = intercept[IllegalStateException] {
      t.vacuum(retainLast = 2, orphanMinAgeMs = 0L)
    }
    assert(e.getMessage.contains("does not replay"),
      s"unexpected refusal message: ${e.getMessage}")
    val segsAfter = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("seg-")).toSet
    assert(segsAfter == segsBefore,
      "an unrepairable checkpoint must abort vacuum BEFORE any deletion")
  }

  test("bloom skipping: point lookups scan only segments whose filter " +
      "cannot rule the key out, with ZERO false negatives; blooms " +
      "survive checkpoints; bloom-less segments are always scanned") {
    val dir = Files.createTempDirectory("graft-log").toString + "/tbl"
    val t = new LogStore(spark, dir, bloomCol = Some("k"),
      checkpointInterval = 2)
    // three segments with DISJOINT string keys — min/max stats would
    // be useless here (interleaved lexicographic ranges)
    def seg(keys: Seq[String]) =
      keys.zipWithIndex.map { case (k, i) => (k, i.toLong) }
        .toDF("k", "v")
    t.append(seg((0 until 40).map(i => s"shop-${i * 3}.example")))
    t.append(seg((0 until 40).map(i => s"shop-${i * 3 + 1}.example")))
    t.append(seg((0 until 40).map(i => s"shop-${i * 3 + 2}.example")))

    // no false negatives: EVERY inserted key is found, and the result
    // equals the full-scan filter exactly
    val all = t.read()
    (0 until 120 by 17).foreach { i =>
      val key = s"shop-$i.example"
      val (df, scanned, live) = t.pointLookup(key)
      assert(live == 3)
      assert(scanned >= 1 && scanned <= 3)
      val expect = all.where(col("k") === key).count()
      assert(df.count() == expect && expect == 1L,
        s"lookup of $key must equal the full scan")
    }
    // the skip actually happens: a known key opens ONE segment (the
    // md5 positions are deterministic, so this is a fixed outcome,
    // not a probabilistic one)
    val (_, s0, _) = t.pointLookup("shop-0.example")
    assert(s0 == 1, s"disjoint segments should skip: scanned $s0 of 3")
    // an absent key is PROVEN absent without opening anything
    val (miss, sMiss, _) = t.pointLookup("never-written.example")
    assert(sMiss == 0 && miss.count() == 0L)

    // checkpoints carry the bloom: force one, then a fresh store
    // handle (checkpoint-seeded replay) still skips identically
    t.checkpoint()
    val t2 = new LogStore(spark, dir, bloomCol = Some("k"))
    val (hit2, s2, l2) = t2.pointLookup("shop-0.example")
    assert(l2 == 3 && s2 == 1 && hit2.count() == 1L)

    // a segment written WITHOUT a bloom (different store config on
    // the same root) is always scanned — the safe default
    val tPlain = new LogStore(spark, dir)
    tPlain.append(seg(Seq("late-arrival.example")))
    val t3 = new LogStore(spark, dir, bloomCol = Some("k"))
    val (_, s3, l3) = t3.pointLookup("shop-0.example")
    assert(l3 == 4 && s3 == 2,
      s"the bloom-less segment must always be scanned: $s3 of $l3")
    val (lateDf, sLate, _) = t3.pointLookup("late-arrival.example")
    assert(sLate == 1 && lateDf.count() == 1L,
      "the key only the bloom-less segment holds is still found")
  }

  test("RESTORE is a data change in the feed: an incremental consumer " +
      "stays equal to the snapshot across deleteWhere→restore and " +
      "append→restore, and the feed fold reconstructs every state") {
    import graft.streaming.StreamingOps
    import org.apache.spark.sql.types.DecimalType
    val t = new LogStore(spark,
      Files.createTempDirectory("graft-log").toString + "/tbl",
      statsCol = Some("id"))
    val statePath =
      Files.createTempDirectory("graft-rsync").toString + "/state"
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("grp")).agg(count(lit(1)).as("cnt"),
        sum(col("v").cast(DecimalType(18, 4))).as("sm"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("grp"), col("cnt"), col("sm").cast("double"))
        .as[(String, Long, Double)].collect().toSet
    def stateRows() = rows(new LogStore(spark, statePath).read())
    def sync() = StreamingOps.syncSumCountFromLog(spark, t, statePath,
      "id", "grp", "v")

    new LogStore(spark, statePath)
      .append(agg(Seq.empty[(Long, String, Double)].toDF("id", "grp", "v")))
    t.append(Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
      .toDF("id", "grp", "v"))                 // v0
    t.deleteWhere("grp = 'a'")                 // v1
    sync()
    assert(stateRows() == rows(agg(t.read())),
      "consumer absorbed the delete")

    // the verdict's concrete failure: rows come BACK via restore — the
    // feed must say so, or every incremental consumer diverges forever
    t.restore(0)                               // v2
    sync()
    assert(stateRows() == rows(agg(t.read())),
      "restore re-added rows; the feed must emit them, not stay silent")

    // the other direction: restore rolls BACK an append — the feed
    // must emit deletes for the departing rows
    t.append(Seq((9L, "c", 9.0)).toDF("id", "grp", "v")) // v3
    sync()
    t.restore(2)                               // v4
    sync()
    assert(stateRows() == rows(agg(t.read())),
      "restore rolled an append back; the feed must emit its deletes")

    // the raw-feed fold invariant survives restores: removals before
    // additions per version onto an empty map ⇒ the latest snapshot
    val ch = t.readChanges(0)
      .select("id", "grp", "v", "_change_type", "_commit_version")
      .as[(Long, String, Double, String, Long)].collect()
    val state = scala.collection.mutable.Map.empty[Long, (String, Double)]
    ch.groupBy(_._5).toSeq.sortBy(_._1).foreach { case (_, cs) =>
      cs.filter(c => c._4 == "delete" || c._4 == "update_preimage")
        .foreach(c => state -= c._1)
      cs.filter(c => c._4 == "insert" || c._4 == "update_postimage")
        .foreach(c => state(c._1) = (c._2, c._3))
    }
    assert(state.toMap == t.read().as[(Long, String, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap,
      "the feed fold must reconstruct the post-restore snapshot")
    // and a no-op restore (target == current content) changes nothing
    val vNoop = t.restore(t.latestVersion())
    assert(t.readChanges(vNoop, vNoop).count() == 0,
      "a no-op restore is dataChange=false")
  }

  test("vacuum publishes the retention horizon BEFORE deleting: a " +
      "racing commit aborts the vacuum with every byte still on disk") {
    val dir = Files.createTempDirectory("graft-log").toString + "/tbl"
    @volatile var raceOnce = false
    val t: LogStore = new LogStore(spark, dir) {
      override private[graft] def commit(expected: Long, adds: Seq[Segment],
          removes: Seq[String], txn: Option[Long],
          vacuumHorizon: Option[Long], cdc: Seq[String],
          schema: Option[String], props: Option[String],
          dvs: Seq[(String, String, Long)]): Long = {
        if (raceOnce) {
          raceOnce = false
          // the racing writer: segment written AND published at the
          // very version slot this commit is about to claim
          (100L to 103L).toDF("id").write.parquet(s"$dir/seg-racer")
          val p = new org.apache.hadoop.fs.Path(
            f"$dir/_log/$expected%08d.json")
          val rfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val out = rfs.create(p, false)
          out.write("{\"add\":\"seg-racer\"}\n".getBytes("UTF-8"))
          out.close()
        }
        super.commit(expected, adds, removes, txn, vacuumHorizon, cdc,
          schema, props, dvs)
      }
    }
    t.append((1L to 4L).toDF("id"))   // v0
    t.append((5L to 9L).toDF("id"))   // v1
    t.compact()                       // v2 — v0/v1 segments now dead
    val dead = (t.liveSegments(0) ++ t.liveSegments(1)).toSet
    raceOnce = true
    intercept[t.ConcurrentCommitException] {
      t.vacuum(retainLast = 1, orphanMinAgeMs = 0L)
    }
    // NOTHING was deleted: the dead segments (vacuum's targets) and
    // the racer's published segment all survive the lost race
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDisk = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("seg-")).toSet
    assert(dead.subsetOf(onDisk), s"dead segments must survive: $onDisk")
    assert(onDisk.contains("seg-racer"),
      "the racing writer's published segment must survive")
    assert(ids(t.read()) == (1L to 9L).toSet ++ (100L to 103L).toSet,
      "the racer's commit is fully readable after the aborted vacuum")
    // the retry honors the racer's segment and reclaims only the dead
    val res = t.vacuum(retainLast = 1, orphanMinAgeMs = 0L)
    assert(!res.deleted.contains("seg-racer") &&
      dead.subsetOf(res.deleted.toSet))
    assert(ids(t.read()) == (1L to 9L).toSet ++ (100L to 103L).toSet)
  }

  test("optimize: range-clustering on the stats column turns useless " +
      "segment stats into tight disjoint ranges — same rows, better " +
      "skip rate, dataChange=false, old snapshot intact") {
    val t = new LogStore(spark,
      Files.createTempDirectory("graft-log").toString + "/tbl",
      statsCol = Some("id"))
    // curve-OBLIVIOUS ingest: four appends interleaved mod 4, so every
    // segment spans nearly the whole id range and stats prune nothing
    (0 until 4).foreach { i =>
      t.append((1L to 1000L).filter(_ % 4 == i).toDF("id"))
    }
    val pre = t.latestVersion()
    val (_, preScanned, preLive) = t.readRange("100", "150")
    assert(preLive == 4 && preScanned == 4,
      "interleaved ingest: every segment overlaps every range")

    val res = t.optimize(4, col("id"))
    assert(res.rewritten == 4 && res.produced >= 2 &&
      res.produced <= 4, s"clustered rewrite: $res")
    assert(t.liveSegments().size == res.produced)
    // same rows, exactly
    assert(ids(t.read()) == (1L to 1000L).toSet)
    // the skip rate is what the rewrite buys: a 5% range now opens
    // ~one segment instead of all of them
    val (df, postScanned, postLive) = t.readRange("100", "150")
    assert(postLive == res.produced && postScanned < preScanned &&
      postScanned <= 2, s"clustered stats must prune: $postScanned")
    assert(ids(df) == (100L to 150L).toSet,
      "pruning is an optimization, never a semantics change")
    // snapshot invariance: the pre-optimize version still reads its
    // own (interleaved) segment list
    assert(ids(t.read(pre)) == (1L to 1000L).toSet)
    assert(t.liveSegments(pre).size == 4)
    // dataChange=false: the feed skips the rewrite entirely
    assert(t.readChanges(res.version, res.version).count() == 0,
      "optimize moved bytes but changed no data")

    // bin-pack mode (no cluster key): small files collapse to the
    // target count, rows identical
    val tb = fresh()
    (1 to 6).foreach(i => tb.append(Seq(i.toLong).toDF("id")))
    val rb = tb.optimize(2)
    assert(rb.rewritten == 6 && rb.produced == 2)
    assert(tb.liveSegments().size == 2)
    assert(ids(tb.read()) == (1L to 6L).toSet)
  }

  test("multi-column stats: every configured column's bounds ride the " +
      "add action, prune independently AND conjunctively, survive " +
      "checkpoints, and degrade per-column to always-scan") {
    val dir = Files.createTempDirectory("graft-log").toString + "/tbl"
    val t = new LogStore(spark, dir, statsCol = Some("a"),
      statsCols = Seq("b"), checkpointInterval = 2)
    def seg(as: Range, bs: Range) =
      as.zip(bs).map { case (a, b) => (a.toLong, b.toLong) }
        .toDF("a", "b")
    // a quadrant layout: (a low/high) × (b low/high), so one-column
    // pruning opens two segments and two-column pruning opens one
    t.append(seg(0 to 99, 0 to 99))
    t.append(seg(0 to 99, 1000 to 1099))
    t.append(seg(1000 to 1099, 0 to 99))
    t.append(seg(1000 to 1099, 1000 to 1099))

    val (dfA, sA, lA) = t.readRangeOn("a", "10", "20")
    assert(lA == 4 && sA == 2, s"a-only prune: $sA of $lA")
    val (dfB, sB, _) = t.readRangeOn("b", "1010", "1020")
    assert(sB == 2, s"b-only prune: $sB")
    val (dfAB, sAB, _) = t.readRangeAll(
      Seq(("a", "10", "20"), ("b", "1010", "1020")))
    assert(sAB == 1, s"conjunctive prune must intersect: $sAB")
    // pruning never changes semantics: each equals the full-scan filter
    assert(dfAB.count() ==
      t.read().where(col("a").between(10, 20) &&
        col("b").between(1010, 1020)).count())
    assert(dfA.count() == t.read().where(col("a").between(10, 20)).count())
    assert(dfB.count() ==
      t.read().where(col("b").between(1010, 1020)).count())

    // checkpoint round trip: a fresh handle seeded from the checkpoint
    // prunes identically (the xs grammar survives re-serialization)
    t.checkpoint()
    val t2 = new LogStore(spark, dir, statsCol = Some("a"),
      statsCols = Seq("b"))
    val (_, s2, l2) = t2.readRangeAll(
      Seq(("a", "10", "20"), ("b", "1010", "1020")))
    assert(l2 == 4 && s2 == 1)

    // cross-column safety: a segment written by a store that recorded
    // only column a is ALWAYS scanned for b-predicates, never skipped
    val tOnlyA = new LogStore(spark, dir, statsCol = Some("a"))
    tOnlyA.append(seg(5000 to 5010, 5000 to 5010))
    val t3 = new LogStore(spark, dir, statsCol = Some("a"),
      statsCols = Seq("b"))
    val (_, s3, l3) = t3.readRangeOn("b", "1010", "1020")
    assert(l3 == 5 && s3 == 3,
      s"the b-stats-less segment must be assumed to overlap: $s3 of $l3")
    // but its a-bounds still prune (per-column independence)
    val (_, s4, _) = t3.readRangeOn("a", "10", "20")
    assert(s4 == 2, s"a-pruning unaffected by the mixed config: $s4")
    // an unconfigured predicate column refuses loudly
    intercept[IllegalArgumentException] { t3.readRangeOn("z", "0", "1") }
    // a string EXTRA stats column records bounds only when the
    // segment's min/max spellings are grammar-safe (the xs field's
    // `|` `;` delimiters included); unsafe values record nothing for
    // that segment-column and it always scans
    val tStr = new LogStore(spark,
      Files.createTempDirectory("graft-log").toString + "/tbl",
      statsCol = Some("a"), statsCols = Seq("s"))
    tStr.append(Seq((1L, "x|y;z")).toDF("a", "s"))
    assert(!tStr.liveSegmentInfos().last.extra.contains("s"),
      "delimiter-bearing string values must record no xs bounds")
    tStr.append(Seq((2L, "kk"), (3L, "nn")).toDF("a", "s"))
    assert(tStr.liveSegmentInfos().last.extra.get("s")
      .contains(("kk", "nn", false)))
    val (_, sS, lS) = tStr.readRangeOn("s", "zz", "zz")
    assert(lS == 2 && sS == 1,
      s"safe string xs bounds prune, unsafe segment scans: $sS of $lS")
    // a delimiter-bearing extra stats column NAME is refused at
    // construction
    intercept[IllegalArgumentException] {
      new LogStore(spark, dir, statsCols = Seq("bad|name"))
    }
  }

  test("describeDetail: the one-row ops snapshot carries the live " +
      "layout, pruning readiness, horizon, checkpoint and txn fence") {
    val dir = Files.createTempDirectory("graft-log").toString + "/tbl"
    val t = new LogStore(spark, dir, statsCol = Some("id"),
      bloomCol = Some("k"), checkpointInterval = 2)
    def seg(r: Range) = r.map(i => (i.toLong, s"k$i")).toDF("id", "k")
    t.append(seg(1 to 10))                        // v0
    t.appendStream(seg(11 to 20), batchId = 5L)   // v1 (+checkpoint)
    t.append(seg(21 to 30))                       // v2
    t.vacuum(retainLast = 2)                      // v3: horizon 1
    val d = t.describeDetail().collect().head
    assert(d.getAs[String]("location") == dir)
    assert(d.getAs[Long]("version") == 3L)
    assert(d.getAs[Long]("n_segments") == 3L)
    assert(d.getAs[Long]("total_bytes") > 0L)
    assert(d.getAs[Long]("n_with_stats") == 3L &&
      d.getAs[Long]("n_with_bloom") == 3L,
      "every segment carries its skipping metadata")
    assert(d.getAs[Long]("vacuum_horizon") == 1L)
    assert(d.getAs[Long]("last_checkpoint") == 2L)
    assert(d.getAs[Long]("last_txn") == 5L)
    // a stats-less table reports zero pruning readiness, not a lie
    val plain = fresh()
    plain.append((1L to 3L).toDF("id"))
    val p = plain.describeDetail().collect().head
    assert(p.getAs[Long]("n_with_stats") == 0L &&
      p.getAs[Long]("n_with_bloom") == 0L &&
      p.getAs[Long]("last_txn") == -1L &&
      p.getAs[Long]("vacuum_horizon") == -1L)
  }

  test("timestamp time travel: readAsOf resolves to the newest commit " +
      "at-or-before the instant; pre-creation timestamps refuse") {
    val t = fresh()
    t.append((1L to 3L).toDF("id"))            // v0
    Thread.sleep(60)
    val betweenV0andV1 = System.currentTimeMillis()
    Thread.sleep(60)
    t.append((4L to 6L).toDF("id"))            // v1
    Thread.sleep(60)
    t.deleteWhere("id = 1")                    // v2
    assert(t.versionAsOf(betweenV0andV1) == 0L)
    assert(ids(t.readAsOf(betweenV0andV1)) == (1L to 3L).toSet)
    assert(ids(t.readAsOf(System.currentTimeMillis())) ==
      (2L to 6L).toSet, "a now-timestamp reads the latest snapshot")
    intercept[IllegalArgumentException] { t.versionAsOf(1000L) }
  }

  test("deleteRange: a stats-pruned delete rewrites ONLY overlapping " +
      "segments, misses are commit-free no-ops, NULL key rows always " +
      "survive, and the feed emits exactly the deleted rows") {
    val t = new LogStore(spark,
      Files.createTempDirectory("graft-log").toString + "/tbl",
      statsCol = Some("id"))
    t.append((1L to 100L).toDF("id"))
    t.append((1000L to 1100L).toDF("id"))
    t.append((5000L to 5100L).toDF("id"))
    val before = t.liveSegments()
    val all = (1L to 100L) ++ (1000L to 1100L) ++ (5000L to 5100L)
    val r = t.deleteRange("id", "1050", "1060")
    assert(r.rewritten == 1 && r.live == 3,
      s"only the [1000,1100] segment overlaps: $r")
    assert(ids(t.read()) == all.toSet -- (1050L to 1060L))
    // the two untouched segments carried over as THE SAME segments
    assert(t.liveSegments().toSet.intersect(before.toSet).size == 2,
      "non-overlapping segments must not be rewritten")
    // pre-delete snapshot intact; the feed carries exactly the deletes
    assert(ids(t.read(r.version - 1)) == all.toSet)
    val ch = t.readChanges(r.version, r.version)
    assert(ch.select(col("_change_type")).distinct()
      .as[String].collect().toSeq == Seq("delete"))
    assert(ids(ch.drop("_change_type", "_commit_version")) ==
      (1050L to 1060L).toSet)
    // a range NO segment can contain: no rewrite, no commit at all
    val miss = t.deleteRange("id", "200", "900")
    assert(miss.rewritten == 0 && t.latestVersion() == r.version,
      s"provably-empty delete must be commit-free: $miss")
    // NULL stats values never match a range — always kept
    val tn = new LogStore(spark,
      Files.createTempDirectory("graft-log").toString + "/tbl",
      statsCol = Some("id"))
    tn.append(Seq((Option(1L), "a"), (Option.empty[Long], "n"),
      (Option(150L), "b")).toDF("id", "v"))
    tn.deleteRange("id", "100", "200")
    assert(tn.read().select(col("v")).as[String].collect().toSet ==
      Set("a", "n"), "the NULL-key row must survive")
    // an unconfigured column refuses loudly
    intercept[IllegalArgumentException] { t.deleteRange("z", "0", "1") }
  }

  test("appendWithRetry: a blind append retries through lost commit " +
      "races and lands; exhaustion rethrows the conflict") {
    val dir = Files.createTempDirectory("graft-log").toString + "/tbl"
    @volatile var racesLeft = 0
    val t: LogStore = new LogStore(spark, dir) {
      override private[graft] def commit(expected: Long, adds: Seq[Segment],
          removes: Seq[String], txn: Option[Long],
          vacuumHorizon: Option[Long], cdc: Seq[String],
          schema: Option[String], props: Option[String],
          dvs: Seq[(String, String, Long)]): Long = {
        if (racesLeft > 0) {
          racesLeft -= 1
          // a racing writer claims the slot with a metadata-only commit
          val p = new org.apache.hadoop.fs.Path(
            f"$dir/_log/$expected%08d.json")
          val rfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val out = rfs.create(p, false)
          out.write("{\"txn\":999}\n".getBytes("UTF-8"))
          out.close()
        }
        super.commit(expected, adds, removes, txn, vacuumHorizon, cdc,
          schema, props, dvs)
      }
    }
    t.append((1L to 3L).toDF("id"))          // v0
    racesLeft = 2
    val v = t.appendWithRetry((4L to 6L).toDF("id"), maxAttempts = 3)
    assert(v == 3L, s"two lost races then success: landed at $v")
    assert(ids(t.read()) == (1L to 6L).toSet)
    racesLeft = 5
    intercept[t.ConcurrentCommitException] {
      t.appendWithRetry((7L to 9L).toDF("id"), maxAttempts = 2)
    }
  }

  test("merge enforces schema like append: a type-mutated shared " +
      "column is refused loudly and the table is untouched") {
    val t = fresh()
    t.append(Seq((1L, "a")).toDF("id", "v"))
    val e = intercept[IllegalArgumentException] {
      t.merge(Seq(("1", "x")).toDF("id", "v"), "id") // id STRING vs LONG
    }
    assert(e.getMessage.contains("schema enforcement"), e.getMessage)
    assert(t.latestVersion() == 0L)
    assert(t.read().as[(Long, String)].collect().toMap == Map(1L -> "a"))
  }

  test("stats bounds compare EXACTLY at 64-bit integer extremes: " +
      "beyond 2^53 a double compare blurs adjacent longs into ties — " +
      "the BigDecimal compare keeps pruning (and its write-path " +
      "users) precise") {
    val big = 9007199254740992L // 2^53
    val dir = Files.createTempDirectory("graft-log").toString + "/tbl"
    val t = new LogStore(spark, dir, statsCol = Some("id"))
    t.append(Seq(big).toDF("id"))          // bounds [2^53, 2^53]
    t.append(Seq(big + 2).toDF("id"))      // bounds [2^53+2, 2^53+2]
    // probe [2^53+1, 2^53+1]: disjoint from BOTH segments exactly,
    // but toDouble rounds 2^53+1 down to 2^53 and would scan (and,
    // on the write path, rewrite) segment one
    val probe = (big + 1).toString
    val (_, scanned, live) = t.readRange(probe, probe)
    assert(live == 2 && scanned == 0,
      s"exact compare must prune both segments, scanned $scanned")
    val del = t.deleteRange("id", probe, probe)
    assert(del.rewritten == 0,
      "an exactly-empty range must be a rewrite-free no-op at 2^53+1")
    assert(t.read().as[Long].collect().toSet == Set(big, big + 2))
    // and a range that DOES cover a segment still rewrites it
    val del2 = t.deleteRange("id", (big + 2).toString, (big + 2).toString)
    assert(del2.rewritten == 1)
    assert(t.read().as[Long].collect().toSet == Set(big))
  }

  test("mergeKeyed: a composite (id, d) business key matches on the " +
      "tuple, prunes on the LEADING stats column, and emits a " +
      "truthful tuple-keyed change feed") {
    val dir = Files.createTempDirectory("graft-log").toString + "/tbl"
    val t = new LogStore(spark, dir, statsCol = Some("id"))
    // two id-disjoint segments; ids repeat across d within each
    t.append(Seq((1L, "d1", "a"), (1L, "d2", "b"), (2L, "d1", "c"))
      .toDF("id", "d", "v"))
    t.append(Seq((100L, "d1", "x"), (101L, "d2", "y"))
      .toDF("id", "d", "v"))
    // updates touch only the low-id range: ONE segment rewritten
    val r = t.mergeKeyed(
      Seq((1L, "d2", "B"), (3L, "d3", "n")).toDF("id", "d", "v"),
      Seq("id", "d"))
    assert(r.rewritten == 1 && r.live == 2,
      "leading-column stats pruning must survive the composite key")
    assert(t.read().select(col("id"), col("d"), col("v"))
      .as[(Long, String, String)].collect().toSet ==
      Set((1L, "d1", "a"), (1L, "d2", "B"), (2L, "d1", "c"),
        (3L, "d3", "n"), (100L, "d1", "x"), (101L, "d2", "y")))
    // the feed keys on the tuple: exactly one pre/post pair for
    // (1, d2) and one insert for (3, d3) — (1, d1) untouched
    val feed = t.readChanges(r.version, r.version)
      .select(col("_change_type"), col("id"), col("d"))
      .as[(String, Long, String)].collect().toSet
    assert(feed == Set(("update_preimage", 1L, "d2"),
      ("update_postimage", 1L, "d2"), ("insert", 3L, "d3")))
    // duplicate TUPLE refusal (same id twice with same d)
    val e = intercept[IllegalArgumentException] {
      t.mergeKeyed(Seq((5L, "d1", "p"), (5L, "d1", "q"))
        .toDF("id", "d", "v"), Seq("id", "d"))
    }
    assert(e.getMessage.contains("not unique"), e.getMessage)
    // same id with DIFFERENT d is two distinct keys — legal
    val r2 = t.mergeKeyed(Seq((5L, "d1", "p"), (5L, "d2", "q"))
      .toDF("id", "d", "v"), Seq("id", "d"))
    assert(r2.version > r.version)
  }

  test("schema rides the LOG (the paper's metadata action): writes " +
      "validate against recorded state, evolution updates it in the " +
      "same commit, reads plan from it, time travel returns the old " +
      "shape, and checkpoints carry it") {
    val t = fresh()
    t.append(Seq((1L, "a")).toDF("id", "v"))                // v0
    assert(t.recordedSchema().map(_.fieldNames.toSeq)
      .contains(Seq("id", "v")))
    t.append(Seq((2L, "b", 3.5)).toDF("id", "v", "x"))      // v1 evolves
    assert(t.recordedSchema().map(_.fieldNames.toSeq)
      .contains(Seq("id", "v", "x")))
    assert(t.read().columns.toSeq == Seq("id", "v", "x"))
    assert(t.read().select(col("id"), col("x"))
      .as[(Long, Option[Double])].collect().toSet ==
      Set((1L, None), (2L, Some(3.5))))
    // time travel returns the OLD shape: schema state replays too
    assert(t.read(0).columns.toSeq == Seq("id", "v"))
    // type mutation refused from the recorded schema — no footer read
    intercept[IllegalArgumentException] {
      t.append(Seq(("oops", "y")).toDF("id", "v"))
    }
    // a subset-column append is legal and does not shrink the schema
    t.append(Seq((3L, "c")).toDF("id", "v"))                // v2
    assert(t.read().columns.toSeq == Seq("id", "v", "x"))
    assert(t.read().where(col("id") === 3).select(col("x"))
      .as[Option[Double]].head().isEmpty)
    // checkpoints carry the schema state: a checkpoint-seeded fresh
    // handle resolves it without replaying the stamped commits
    t.checkpoint()
    val t2 = new LogStore(spark, t.root)
    assert(t2.recordedSchema().map(_.fieldNames.toSeq)
      .contains(Seq("id", "v", "x")))
    assert(t2.read().columns.toSeq == Seq("id", "v", "x"))
  }

  test("TIMESTAMP AS OF resolves from LOG CONTENT: rewritten file " +
      "mtimes (a cp -r, a backup-restore) cannot move the answer, " +
      "and describeHistory carries the durable commit clock") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("graft-log").toString + "/tbl"
    val t = new LogStore(spark, dir)
    t.append((1L to 3L).toDF("id"))            // v0
    Thread.sleep(20)
    val betweenV0V1 = System.currentTimeMillis()
    Thread.sleep(20)
    t.append((4L to 6L).toDF("id"))            // v1
    assert(t.versionAsOf(betweenV0V1) == 0L)
    // corrupt every version file's mtime far into the future — the
    // mtime-based walk would now claim NO version is old enough
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(s"$dir/_log"))
      .filter(_.getPath.getName.endsWith(".json"))
      .foreach(f => fs.setTimes(f.getPath,
        System.currentTimeMillis() + 86400000L, -1L))
    assert(t.versionAsOf(betweenV0V1) == 0L,
      "resolution must read the in-log ts stamp, not file metadata")
    assert(ids(t.readAsOf(betweenV0V1)) == Set(1L, 2L, 3L))
    // the audit surfaces the same durable clock, nondecreasing
    val times = t.describeHistory()
      .select(col("commit_time_ms")).as[Long].collect()
    assert(times.length == 2 && times(0) <= times(1))
    assert(times(0) < betweenV0V1 && times(1) > betweenV0V1)
  }

  test("optimizeWhere: a predicate-selected rewrite touches ONLY " +
      "overlapping segments — the others carry over as the SAME " +
      "segments, the feed stays silent, snapshots invariant, and an " +
      "empty selection is a commit-free no-op") {
    val dir = Files.createTempDirectory("graft-log").toString + "/tbl"
    val t = new LogStore(spark, dir, statsCol = Some("id"))
    t.append((1L to 100L).toDF("id"))     // [1, 100]
    t.append((101L to 200L).toDF("id"))   // [101, 200]
    t.append((501L to 600L).toDF("id"))   // [501, 600]
    val before = t.liveSegmentInfos()
    val untouched = before.filter(_.mayOverlapOn("id", "501", "600"))
      .map(_.name).toSet
    assert(untouched.size == 1)

    // re-cluster the low range only: 2 selected → 4 outputs, 1 carried
    val r = t.optimizeWhere(4, Seq(("id", "1", "200")),
      clusterBy = Seq(col("id")))
    assert(r.rewritten == 2 && r.produced == 4 && r.carried == 1)
    val after = t.liveSegmentInfos()
    assert(after.size == 5)
    assert(untouched.subsetOf(after.map(_.name).toSet),
      "the non-overlapping segment must survive BY NAME — carried " +
        "over, not rewritten")
    assert(ids(t.read()) == ((1L to 200L) ++ (501L to 600L)).toSet)
    assert(ids(t.read(r.version - 1)) == ids(t.read()),
      "snapshot-invariant: the pre-optimize version reads the same rows")
    assert(t.readChanges(r.version, r.version).count() == 0,
      "a layout-only rewrite is dataChange=false in the feed")
    // the selected range is now tightly clustered: a 20-id probe
    // opens at most 2 of the 5 live segments (range-partitioner
    // boundaries are sampled, so it may straddle one edge)
    val (_, scanned, live) = t.readRange("120", "140")
    assert(live == 5 && scanned <= 2,
      s"post-optimize probe must prune: scanned $scanned of $live")

    // a range no live segment can contain: no commit, version pinned
    val v = t.latestVersion()
    val miss = t.optimizeWhere(4, Seq(("id", "9000", "9999")))
    assert(miss.rewritten == 0 && miss.version == v &&
      t.latestVersion() == v, "empty selection must cost nothing")
  }

  test("maintainLayout: tiny ingest appends accumulate until the " +
      "small-segment limit trips a size-selected bin-pack — bounded " +
      "segment count forever, healthy segments untouched, then " +
      "commit-free silence") {
    val dir = Files.createTempDirectory("graft-log").toString + "/tbl"
    val t = new LogStore(spark, dir, statsCol = Some("id"))
    // one "healthy" big segment (stays untouched throughout)
    t.append((1000L to 5000L).toDF("id"))
    val bigName = t.liveSegmentInfos().head.name
    val bigBytes = t.describeDetail().collect()
      .head.getAs[Long]("total_bytes")
    val threshold = bigBytes // every 1-row append is under this
    // tiny streaming-style appends
    (1L to 7L).foreach { i =>
      t.append(Seq(i).toDF("id"))
      val m = t.maintainLayout(threshold, smallSegmentLimit = 6)
      if (i < 5) assert(!m.triggered && m.smallBefore == i.toInt)
    }
    // the 6th small segment tripped the pack at i=6: afterwards the
    // live set is the big segment + 1 packed + whatever arrived since
    val live = t.liveSegmentInfos()
    assert(live.size <= 4,
      s"segment count must stay bounded, got ${live.size}")
    assert(live.map(_.name).contains(bigName),
      "the healthy segment must never be selected by the size rule")
    assert(ids(t.read()) == ((1L to 7L) ++ (1000L to 5000L)).toSet)
    // readiness numbers agree with the policy's rule
    val d = t.describeDetail(smallBytes = threshold).collect().head
    assert(d.getAs[Long]("n_small_segments") == live.size - 1L)
    // below the limit: commit-free no-op
    val v = t.latestVersion()
    val quiet = t.maintainLayout(threshold, smallSegmentLimit = 6)
    assert(!quiet.triggered && t.latestVersion() == v)
  }

  test("a failed checkpoint — ANY non-fatal error, not just " +
      "IOException — never fails the commit that already landed") {
    val dir = Files.createTempDirectory("graft-log").toString + "/tbl"
    val t: LogStore = new LogStore(spark, dir, checkpointInterval = 1) {
      override def checkpoint(v: Long): Unit =
        throw new NumberFormatException("corrupt log line during replay")
    }
    t.append((1L to 3L).toDF("id"))        // v0 (no trigger at 0)
    val v1 = t.append((4L to 6L).toDF("id")) // v1 triggers the throw
    assert(v1 == 1L, "the commit landed; the checkpoint failure is " +
      "best-effort noise, whatever exception class it wears")
    assert(ids(t.read()) == (1L to 6L).toSet)
  }

  // ---- table properties (the `props` configuration action) ----

  test("props action: a configured writer stamps its skipping setup " +
      "into the log once, and LogStore.configured reconstructs the " +
      "same pruning behavior from the PATH alone") {
    val root = Files.createTempDirectory("graft-props").toString + "/tbl"
    val writer = new LogStore(spark, root, statsCol = Some("id"),
      bloomCol = Some("k"), bloomBits = 4096, statsCols = Seq("d"))
    writer.append(Seq((1L, "a", 10), (2L, "b", 11))
      .toDF("id", "k", "d"))
    writer.append(Seq((100L, "x", 90), (200L, "y", 91))
      .toDF("id", "k", "d"))
    assert(writer.recordedProps() ==
      Some("statsCol=id;statsCols=d;bloomCol=k;bloomBits=4096"))
    // the stamp lands once, not per commit
    val log = new java.io.File(s"$root/_log").listFiles()
      .filter(_.getName.endsWith(".json"))
      .map(f => new String(java.nio.file.Files.readAllBytes(f.toPath)))
    assert(log.count(_.contains("\"props\"")) == 1,
      "an unchanged configuration must not restamp every commit")
    // a reader that knows only the path prunes like the writer
    val reader = LogStore.configured(spark, root)
    val (df, scanned, live) = reader.readRangeOn("id", "100", "200")
    assert(live == 2 && scanned == 1, "primary stats pruning must work")
    assert(df.select(col("id")).as[Long].collect().toSet ==
      Set(100L, 200L))
    val (_, s2, _) = reader.readRangeOn("d", "90", "91")
    assert(s2 == 1, "extra stats column pruning must work")
    val (lk, s3, _) = reader.pointLookup("a")
    assert(s3 == 1 && lk.count() == 1, "bloom pruning must work")
  }

  test("props: an unconfigured table records nothing and configured() " +
      "degrades to a plain store; props survive checkpoints") {
    val plainT = fresh()
    plainT.append((1L to 3L).toDF("id"))
    assert(plainT.recordedProps().isEmpty)
    assert(LogStore.configured(spark, plainT.root)
      .configuredStatsColumns.isEmpty)

    // checkpoint carry: enough commits to cross the interval, then a
    // fresh replay (which seeds from the checkpoint) still sees props
    val root = Files.createTempDirectory("graft-props2").toString + "/t"
    val w = new LogStore(spark, root, statsCol = Some("id"),
      checkpointInterval = 3)
    (1 to 7).foreach(i => w.append(Seq(i.toLong).toDF("id")))
    val r = new LogStore(spark, root, checkpointInterval = 3)
    assert(r.recordedProps() == Some("statsCol=id"),
      "the checkpoint must re-serialize the props action")
  }

  // ---- publishSegments (the DSv2 sink's commit half) ----

  /** `df` written into the table's directory `seg` by the table's own
    * segment writer, with its tasks' messages. */
  private def staged(root: String, df: org.apache.spark.sql.DataFrame,
      seg: String) = seg ->
    graft.sources.LogDataWriterFactory(spark, root, s"$root/$seg",
      df.schema).writeRows(df)

  test("publishSegments: staged directories become ONE visible commit " +
      "with full stats/bloom metadata; invisible before, fenced on " +
      "txn replay") {
    val root = Files.createTempDirectory("graft-pub").toString + "/tbl"
    val t = new LogStore(spark, root, statsCol = Some("id"),
      bloomCol = Some("k"))
    t.append(Seq((1L, "a")).toDF("id", "k"))
    // stage two segment dirs the way a distributed writer would
    val df2 = Seq((10L, "x"), (11L, "y")).toDF("id", "k")
    val df3 = Seq((20L, "z")).toDF("id", "k")
    val a = staged(root, df2, "seg-pub-a")
    val b = staged(root, df3, "seg-pub-b")
    assert(ids(t.read()) == Set(1L), "staged segments must be invisible")
    val v = t.publishSegments(Seq(a, b), df2.schema, txn = Some(7L))
    assert(v == t.latestVersion())
    assert(ids(t.read()) == Set(1L, 10L, 11L, 20L))
    // both published segments carry stats + bloom like any internal write
    val pubs = t.liveSegmentInfos()
      .filter(s => s.name == "seg-pub-a" || s.name == "seg-pub-b")
    assert(pubs.size == 2 &&
      pubs.forall(s => s.min.nonEmpty && s.bloom.nonEmpty))
    val (_, scanned, live) = t.readRange("10", "11")
    assert(live == 3 && scanned == 1)
    // exactly-once: a replayed epoch publishes nothing
    assert(t.publishSegments(Seq(staged(root, df3, "seg-pub-c")),
      df3.schema, txn = Some(7L)) == -1L)
    assert(ids(t.read()) == Set(1L, 10L, 11L, 20L))
  }

  test("publishSegments runs schema enforcement: a type-mutated " +
      "shared column refuses with the table untouched") {
    val t = fresh()
    t.append(Seq(1L).toDF("id"))
    val bad = Seq("oops").toDF("id")
    val seg = staged(t.root, bad, "seg-pub-bad")
    val e = intercept[IllegalArgumentException] {
      t.publishSegments(Seq(seg), bad.schema)
    }
    assert(e.getMessage.contains("never mutates types"))
    assert(ids(t.read()) == Set(1L))
  }

  test("vacuum after a log trim stays healthy: the trimmed prefix is " +
      "validated-by-the-prior-trim, so back-to-back vacuums (and a " +
      "later one after more commits) never wedge on the checkpoint " +
      "the first trim made mandatory") {
    val dir = Files.createTempDirectory("graft-log").toString + "/tbl"
    val t = new LogStore(spark, dir, checkpointInterval = 5)
    (0 until 12).foreach(i => t.append(Seq(i.toLong).toDF("id")))
    // first vacuum trims every version file and checkpoint below v10
    assert(t.vacuum(retainLast = 2, orphanMinAgeMs = 0L)
      .trimmedLogFiles > 0)
    // the r17 regression: the second vacuum found no independent
    // replay base for checkpoint v10 (its prefix was just trimmed)
    // and threw 'restore the _log directory from backup' on a
    // perfectly healthy table
    t.vacuum(retainLast = 2, orphanMinAgeMs = 0L) // must not throw
    assert(ids(t.read()) == (0L to 11L).toSet)
    // and the table is not subtly poisoned either: more commits, a
    // fresh checkpoint, a third vacuum trims behind it as usual
    (12 until 21).foreach(i => t.append(Seq(i.toLong).toDF("id")))
    val res3 = t.vacuum(retainLast = 2, orphanMinAgeMs = 0L)
    assert(res3.trimmedLogFiles > 0, s"expected a trim, got $res3")
    assert(ids(t.read()) == (0L to 20L).toSet)
    assert(ids(new LogStore(spark, dir).read()) == (0L to 20L).toSet)
    // a checkpoint that is ACTUALLY truncated post-trim still refuses
    // loudly (the commit marker disagrees with the parsed add count —
    // never validated-by-trim blindly)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val cp = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/_log"))
      .map(_.getPath.getName).filter(_.endsWith(".checkpoint"))
      .map(_.stripSuffix(".checkpoint").toLong).max
    val cpPath = new org.apache.hadoop.fs.Path(
      f"$dir/_log/$cp%08d.checkpoint")
    val in = fs.open(cpPath)
    val firstLine = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().next() finally in.close()
    assert(firstLine.contains("ckptAdds"),
      s"the commit marker must lead the file: $firstLine")
    val out = fs.create(cpPath, true)
    try out.write((firstLine + "\n").getBytes("UTF-8"))
    finally out.close()
    val e = intercept[IllegalStateException] {
      t.vacuum(retainLast = 2, orphanMinAgeMs = 0L)
    }
    assert(e.getMessage.contains("does not replay"),
      s"unexpected refusal: ${e.getMessage}")
  }

  test("extra Bloom columns (bloomCols) carry the skipping config: " +
      "RENAME/DROP COLUMN refuses toward ALTER TBLPROPERTIES first, " +
      "exactly like statsCol/bloomCol — never a recorded config " +
      "naming a nonexistent logical column") {
    val dir = Files.createTempDirectory("graft-log").toString + "/tbl"
    val t = new LogStore(spark, dir, bloomCol = Some("k"),
      bloomCols = Seq("b", "c"))
    t.append(Seq((1L, "k1", "b1", "c1")).toDF("id", "k", "b", "c"))
    val e1 = intercept[IllegalArgumentException] {
      t.renameColumn("b", "b2")
    }
    assert(e1.getMessage.contains("skipping config"))
    val e2 = intercept[IllegalArgumentException] { t.dropColumns(Seq("c")) }
    assert(e2.getMessage.contains("skipping config"))
    // a PATH-ONLY handle (recorded props, no constructor config)
    // refuses just the same — the guard keys on the log, not the handle
    val r = new LogStore(spark, dir)
    val e3 = intercept[IllegalArgumentException] {
      r.renameColumn("c", "c2")
    }
    assert(e3.getMessage.contains("skipping config"))
    // re-pointing the TBLPROPERTIES first unblocks the rename (via a
    // fresh path-only handle — this writer's CONSTRUCTOR config still
    // names c, and the guard honors both)
    t.setProperties(Map("bloomCols" -> "b"))
    val r2 = LogStore.configured(spark, dir)
    r2.renameColumn("c", "c2")
    assert(r2.read().columns.toSeq == Seq("id", "k", "b", "c2"))
  }

  test("grammar ordering: bxs rides AFTER the dv fields, so an add " +
      "line carrying BOTH round-trips its deletion vector through a " +
      "checkpoint — and r17's bxs-before-rows spelling still parses") {
    val dir = Files.createTempDirectory("graft-log").toString + "/tbl"
    val t = new LogStore(spark, dir, bloomCols = Seq("k"),
      dvDeletes = true, checkpointInterval = 1000)
    t.append((1L to 10L).map(i => (i, s"k$i")).toDF("id", "k"))
    t.deleteWhereDV("id IN (3, 7)") // the same segment now has bxs AND dv
    t.checkpoint()
    // resolution from the checkpoint ALONE: delete the version files —
    // if the parser lost the trailing dvf/dvr after bxs, the deleted
    // rows would resurrect here
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val latest = t.latestVersion()
    (0L until latest).foreach(v => fs.delete(
      new org.apache.hadoop.fs.Path(f"$dir/_log/$v%08d.json"), false))
    val r = LogStore.configured(spark, dir)
    assert(ids(r.read()) == ((1L to 10L).toSet - 3L - 7L),
      "dv state must survive a checkpoint whose adds carry bxs")
    val (_, opened, live) = r.pointLookupOn("k", "k5")
    assert(opened <= live, "the extra bloom must still be consulted")
    // the r17 spelling (bxs BETWEEN xs and rows) parses identically:
    // hand-write a version file in the old order and read it back
    val dir2 = Files.createTempDirectory("graft-log").toString + "/tbl"
    val t2 = new LogStore(spark, dir2, bloomCols = Seq("k"),
      dvDeletes = true)
    t2.append((1L to 4L).map(i => (i, s"k$i")).toDF("id", "k"))
    t2.deleteWhereDV("id = 2")
    val fs2 = new org.apache.hadoop.fs.Path(dir2).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val v0 = new org.apache.hadoop.fs.Path(f"$dir2/_log/${0L}%08d.json")
    val body = {
      val in2 = fs2.open(v0)
      try scala.io.Source.fromInputStream(in2, "UTF-8").mkString
      finally in2.close()
    }
    // rewrite v0 with bxs moved to the old pre-rows slot
    val re = """("rows":\d+)(.*?)(,"bxs":"[^"]*")""".r
    val oldOrder = body.linesIterator.map { l =>
      re.findFirstMatchIn(l) match {
        case Some(m) => l.substring(0, m.start) + m.group(3) +
          m.group(1) + m.group(2) + l.substring(m.end)
        case None => l
      }
    }.mkString("", "\n", "\n")
    assert(oldOrder != body, "the rewrite must have moved a bxs field")
    val o2 = fs2.create(v0, true)
    try o2.write(oldOrder.getBytes("UTF-8")) finally o2.close()
    val r2 = LogStore.configured(spark, dir2)
    assert(ids(r2.read()) == Set(1L, 3L, 4L))
    val (_, o2b, l2b) = r2.pointLookupOn("k", "k3")
    assert(o2b <= l2b)
  }

  test("applyChangesKeyed: NULL keys compare equal in the NET-set " +
      "gates but never match a stored row") {
    val t = fresh()
    t.append(Seq((Some(1L), "a"), (None, "old")).toDF("id", "v"))
    val before = t.latestVersion()
    val nullUp = Seq((None: Option[Long], "x")).toDF("id", "v")
    // a NULL key in both upserts and deletes groups as ONE key
    val e = intercept[IllegalArgumentException](t.applyChangesKeyed(
      nullUp, Seq(None: Option[Long]).toDF("id"), Seq("id"), 1L))
    assert(e.getMessage.contains("not a NET set"))
    // two NULL-key upserts are one duplicated key
    val d = intercept[IllegalArgumentException](t.applyChangesKeyed(
      Seq((None: Option[Long], "x"), (None, "y")).toDF("id", "v"),
      Seq.empty[Option[Long]].toDF("id"), Seq("id"), 1L))
    assert(d.getMessage.contains("not unique"))
    assert(t.latestVersion() == before)
    // the match is key EQUALITY: a NULL-key upsert replaces nothing
    // and lands beside the stored NULL-key row
    t.applyChangesKeyed(nullUp, Seq.empty[Option[Long]].toDF("id"),
      Seq("id"), 1L)
    assert(t.read().where(col("id").isNull).select("v").as[String]
      .collect().toSet == Set("old", "x"))
    // and a NULL delete key removes nothing
    t.applyChangesKeyed(Seq.empty[(Option[Long], String)].toDF("id", "v"),
      Seq(None: Option[Long]).toDF("id"), Seq("id"), 2L)
    assert(t.read().count() == 3)
  }
}
