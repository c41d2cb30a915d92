package graft.catalog

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Deletion vectors — merge-on-read point deletes: a DV sidecar
  * (file, position) per touched segment, attached by a `dv` log
  * action with ZERO data bytes rewritten; every read path reconciles;
  * rewrites consume vectors; checkpoints, restore, time travel,
  * vacuum and the change feed all stay truthful. */
class DeletionVectorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp() =
    Files.createTempDirectory("graft-dv").toString + "/tbl"

  private def seeded(root: String): LogStore = {
    val store = new LogStore(spark, root, statsCol = Some("id"))
    store.append((0L until 100L).map(i => (i, s"v$i")).toDF("id", "v"))
    store.append((1000L until 1100L).map(i => (i, s"v$i"))
      .toDF("id", "v"))
    store
  }

  test("deleteWhereDV: rows disappear from every read path with NO " +
      "segment rewritten; the feed carries honest deletes; prior " +
      "snapshots read whole") {
    val root = tmp()
    val store = seeded(root)
    val segsBefore = store.liveSegmentInfos().map(_.name).toSet
    val r = store.deleteWhereDV("id IN (5, 7, 1005)")
    assert(r.touched == 2 && r.deletedRows == 3L,
      s"two segments get vectors, got $r")
    // the segment SET is unchanged — nothing was rewritten
    assert(store.liveSegmentInfos().map(_.name).toSet == segsBefore)
    assert(store.liveSegmentInfos().count(_.dv.nonEmpty) == 2)
    // reads reconcile
    assert(store.read().count() == 197L)
    assert(store.read().where(col("id").isin(5L, 7L, 1005L))
      .count() == 0L)
    // skipping reads reconcile too
    val (df, _, _) = store.readRange("0", "10")
    assert(df.count() == 9L, "5 and 7 must be gone from the range read")
    // time travel: the pre-delete snapshot reads the segment whole
    assert(store.read(r.version - 1).count() == 200L)
    // the feed: exactly three delete events
    val feed = store.readChanges(r.version)
      .groupBy(col("_change_type")).agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(feed == Map("delete" -> 3L))
  }

  test("the DV/plain scan split survives per-segment schema " +
      "evolution on pruned paths: drifted shapes null-fill across " +
      "the split exactly like the single mergeSchema scan") {
    val root = tmp()
    val store = new LogStore(spark, root, statsCol = Some("id"))
    // seg A: the pre-evolution shape; seg B evolves with `extra`
    store.append((0L until 10L).map(i => (i, s"v$i")).toDF("id", "v"))
    store.append((10L until 20L).map(i => (i, s"v$i", s"x$i"))
      .toDF("id", "v", "extra"))
    // vector on seg B only → a pruned read (schema=None) spans one
    // plain group (A) and one DV group (B) with drifted shapes
    val r = store.deleteRangeDV("id", "15", "15")
    assert(r.touched == 1 && r.deletedRows == 1L)
    val (df, scanned, live) = store.readRangeOn("id", "0", "19")
    assert(scanned == 2 && live == 2)
    assert(df.count() == 19L, "15 gone, both shapes read")
    assert(df.where(col("id") < 10L && col("extra").isNull)
      .count() == 10L, "pre-evolution rows null-fill the added column")
    assert(df.where(col("id") === 16L && col("extra") === "x16")
      .count() == 1L)
  }

  test("a second DV delete on the same segment MERGES positions, " +
      "and already-deleted rows never re-match or re-report") {
    val root = tmp()
    val store = seeded(root)
    store.deleteWhereDV("id < 10")
    val v2 = store.deleteWhereDV("id < 20") // overlaps the first ten
    assert(store.read().count() == 180L)
    val seg = store.liveSegmentInfos().find(_.dv.nonEmpty).get
    assert(seg.dv.get._2 == 20L, "the vector must carry the union")
    // only the NEWLY deleted ten land in the second commit's feed
    assert(store.readChanges(v2.version, v2.version)
      .where(col("_change_type") === "delete").count() == 10L)
    // a delete matching nothing commits nothing
    val before = store.latestVersion()
    val noop = store.deleteWhereDV("id = 999999")
    assert(noop.deletedRows == 0L &&
      store.latestVersion() == before)
  }

  test("deleteRangeDV stats-prunes candidates: a one-segment range " +
      "position-scans one segment") {
    val root = tmp()
    val store = seeded(root)
    val r = store.deleteRangeDV("id", "1050", "1059")
    assert(r.touched == 1 && r.deletedRows == 10L && r.live == 2,
      s"only the overlapping segment gets a vector, got $r")
    assert(store.read().count() == 190L)
    assert(store.liveSegmentInfos().count(_.dv.nonEmpty) == 1)
  }

  test("the connector snapshot scan reconciles vectors (executor-" +
      "side position skip), and COUNT(*) pushdown stays exact while " +
      "MIN/MAX falls back to a correct scan") {
    val root = tmp()
    val store = seeded(root)
    store.deleteWhereDV("id IN (0, 99, 1099)") // both extremes of both segs
    val df = spark.read.format("graft-log").option("path", root)
      .option("mode", "snapshot").load()
    assert(df.count() == 197L)
    assert(df.where(col("id") === 0L).count() == 0L)
    val agg = df.agg(count(lit(1)).as("n"), min(col("id")).as("mn"),
      max(col("id")).as("mx"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("GraftLogStatsAggregate"),
      "MIN/MAX on dv segments must refuse the metadata answer")
    assert(agg.as[(Long, Long, Long)].head() == ((197L, 1L, 1098L)),
      "the scan fallback must see the post-delete extremes")
    val cntOnly = df.agg(count(lit(1)).as("n"))
    assert(cntOnly.queryExecution.executedPlan.toString
      .contains("GraftLogStatsAggregate"),
      "bare COUNT(*) stays log-answered (rows - dvRows is exact)")
    assert(cntOnly.head().getLong(0) == 197L)
  }

  test("rewrites CONSUME vectors: merge and optimizeWhere(" +
      "withDeletes) fold the debt back into clean segments without " +
      "resurrecting deleted rows") {
    val root = tmp()
    val store = seeded(root)
    store.deleteWhereDV("id BETWEEN 0 AND 4")
    // a keyed merge touching the dv'ed segment must not resurrect
    store.merge(Seq((10L, "UPD")).toDF("id", "v"), "id")
    assert(store.read().count() == 195L)
    assert(store.read().where(col("id") < 5).count() == 0L)
    assert(store.liveSegmentInfos().count(_.dv.nonEmpty) == 0,
      "the merge rewrite consumed the vector")
    // now DV-compact explicitly
    store.deleteRangeDV("id", "1000", "1004")
    assert(store.liveSegmentInfos().count(_.dv.nonEmpty) == 1)
    val r = store.optimizeWhere(1, withDeletes = true)
    assert(r.rewritten == 1, s"only the dv segment selected, got $r")
    assert(store.liveSegmentInfos().count(_.dv.nonEmpty) == 0)
    assert(store.read().count() == 190L)
  }

  test("maintainLayout triggers on VECTOR PRESSURE: light vectors are " +
      "a commit-free no-op, a mostly-deleted segment is rewritten " +
      "(vector consumed) while clean segments carry by name") {
    val root = tmp()
    val store = seeded(root) // seg A: 0-99, seg B: 1000-1099
    val big = store.describeDetail().collect()
      .head.getAs[Long]("total_bytes")
    // 10% pressure on seg B: below the 50% rule → hands-off
    store.deleteRangeDV("id", "1000", "1009")
    val v1 = store.latestVersion()
    val calm = store.maintainLayout(big, smallSegmentLimit = 100)
    assert(!calm.triggered && calm.dvPressured == 0 &&
      store.latestVersion() == v1,
      s"10% vectored must stay a no-op, got $calm")
    // 60% pressure: the policy folds the debt back into a clean segment
    store.deleteRangeDV("id", "1010", "1059")
    val before = store.liveSegmentInfos()
    val aName = before.find(_.dv.isEmpty).get.name
    val m = store.maintainLayout(big, smallSegmentLimit = 100)
    assert(m.triggered && m.dvPressured == 1, s"got $m")
    val after = store.liveSegmentInfos()
    assert(after.map(_.name).contains(aName),
      "the clean segment must carry over BY NAME")
    assert(after.forall(_.dv.isEmpty),
      "the rewrite must consume the vector")
    assert(store.read().count() == 140L)
    // dataChange=false: the compaction contributes nothing to the feed
    assert(store.readChanges(m.result.get.version).count() == 0L)
    // and the policy is quiet again
    val v2 = store.latestVersion()
    assert(!store.maintainLayout(big, smallSegmentLimit = 100).triggered
      && store.latestVersion() == v2)
  }

  test("read-side reconciliation is BOUNDED: past the configured dv " +
      "row ceiling the anti-join drops its broadcast hint (executor-" +
      "bounded shuffle) and reads stay correct") {
    val root = tmp()
    val store = seeded(root)
    store.deleteWhereDV("id IN (5, 7, 1005)")
    def hinted(): Boolean = store.read().queryExecution
      .optimizedPlan.toString.contains("strategy=broadcast")
    assert(hinted(), "small vectors broadcast by default")
    spark.conf.set("graft.dv.broadcastRowLimit", "0")
    try {
      assert(!hinted(), "past the ceiling the hint must be dropped")
      assert(store.read().count() == 197L,
        "the shuffled reconciliation reads the same rows")
    } finally spark.conf.unset("graft.dv.broadcastRowLimit")
  }

  test("checkpointed replay reconstructs DV state, restore undoes a " +
      "vector honestly, and vacuum reclaims unreferenced dv dirs") {
    val root = tmp()
    val store = new LogStore(spark, root, statsCol = Some("id"),
      checkpointInterval = 1) // checkpoint after every commit
    store.append((0L until 50L).map(i => (i, s"v$i")).toDF("id", "v"))
    val del = store.deleteWhereDV("id < 5")
    // a FRESH store resolves through the checkpoint alone
    val reader = LogStore.configured(spark, root)
    assert(reader.read().count() == 45L,
      "checkpoint-seeded replay must carry the vector")
    // restore to the pre-delete version: rows come back, the feed
    // says so (inserts for the resurrected rows)
    val restored = store.restore(del.version - 1)
    assert(store.read().count() == 50L)
    val feed = store.readChanges(restored, restored)
      .groupBy(col("_change_type")).agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(feed == Map("insert" -> 5L),
      s"the restore must report the resurrected rows, got $feed")
    // roll forward again (re-delete), rewrite, vacuum: the dv dir of
    // the replaced segment is reclaimed once unreferenced
    store.deleteWhereDV("id < 5")
    store.compact() // consumes the vector
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def dvDirs() = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).count(_.startsWith("dv-"))
    assert(dvDirs() >= 1)
    store.vacuum(1, orphanMinAgeMs = 0L)
    assert(dvDirs() == 0, "unreferenced dv dirs must be reclaimed")
    assert(store.read().count() == 45L)
  }

  test("SQL DELETE rides deletion vectors when the table opts in " +
      "(TBLPROPERTIES dvDeletes): range + IN deletes attach vectors " +
      "with the segment set unchanged; TRUNCATE stays copy-on-write") {
    val dir = Files.createTempDirectory("graft-dvsql2").toString
    spark.conf.set("spark.sql.catalog.gdvd",
      "graft.sources.GraftLogCatalog")
    spark.conf.set("spark.sql.catalog.gdvd.root", dir)
    spark.sql("CREATE TABLE gdvd.t (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('statsCol' = 'id', 'dvDeletes' = 'true')")
    spark.sql("INSERT INTO gdvd.t SELECT id, CAST(id AS STRING) " +
      "FROM range(0, 100)")
    spark.sql("INSERT INTO gdvd.t SELECT id, CAST(id AS STRING) " +
      "FROM range(1000, 1100)")
    val store = LogStore.configured(spark, s"$dir/t")
    assert(store.dvDeleteMode, "the property must ride the log")
    val segs0 = store.liveSegmentInfos().map(_.name).toSet
    spark.sql("DELETE FROM gdvd.t WHERE id >= 1050 AND id <= 1059")
    spark.sql("DELETE FROM gdvd.t WHERE id IN (5, 10)")
    assert(spark.sql("SELECT count(*) FROM gdvd.t").head().getLong(0)
      == 188L)
    assert(store.liveSegmentInfos().map(_.name).toSet == segs0,
      "dvDeletes: no segment may be rewritten by a SQL DELETE")
    assert(store.liveSegmentInfos().count(_.dv.nonEmpty) == 2)
    // the feed stays honest through the SQL path
    assert(store.readChanges(3)
      .where(col("_change_type") === "delete").count() == 12L)
    spark.sql("TRUNCATE TABLE gdvd.t")
    assert(spark.sql("SELECT count(*) FROM gdvd.t").head().getLong(0)
      == 0L)
  }

  test("SQL UPDATE through the row-level path on a dv table does " +
      "not resurrect deleted rows") {
    val dir = Files.createTempDirectory("graft-dvsql").toString
    spark.conf.set("spark.sql.catalog.gdv",
      "graft.sources.GraftLogCatalog")
    spark.conf.set("spark.sql.catalog.gdv.root", dir)
    spark.sql("CREATE TABLE gdv.t (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('statsCol' = 'id')")
    spark.sql("INSERT INTO gdv.t SELECT id, CAST(id AS STRING) " +
      "FROM range(0, 100)")
    val store = LogStore.configured(spark, s"$dir/t")
    store.deleteWhereDV("id IN (1, 2, 3)")
    spark.sql("UPDATE gdv.t SET v = 'u' WHERE id BETWEEN 0 AND 10")
    assert(spark.sql("SELECT count(*) FROM gdv.t").head().getLong(0)
      == 97L, "the rewrite must not resurrect dv-deleted rows")
    assert(spark.sql(
      "SELECT count(*) FROM gdv.t WHERE v = 'u'").head().getLong(0)
      == 8L, "0,4..10 updated; 1-3 stay deleted")
  }

  test("a vector on the SECOND file of a multi-file segment: the " +
      "connector snapshot scan, the first micro-batch of " +
      "readStream.table, LogStore.read() and a SQL UPDATE's row-level " +
      "scan all drop exactly the vectored rows") {
    val dir = Files.createTempDirectory("graft-dvmulti").toString
    spark.conf.set("spark.sql.catalog.gdvm",
      "graft.sources.GraftLogCatalog")
    spark.conf.set("spark.sql.catalog.gdvm.root", dir)
    spark.sql("CREATE TABLE gdvm.t (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('statsCol' = 'id')")
    val root = s"$dir/t"
    val store = LogStore.configured(spark, root)
    // range-partitioned: the first file holds the low ids, the second
    // the high ones, so the deleted ids sit in the second file only
    store.append((0L until 100L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartitionByRange(2, col("id")))
    store.deleteWhereDV("id IN (90, 91, 99)")
    val seg = store.liveSegmentInfos().head
    val files = new java.io.File(s"$root/${seg.name}").list()
      .filter(_.endsWith(".parquet")).sorted
    assert(files.length == 2, s"two data files, got ${files.toSeq}")
    val vectored = spark.read.parquet(s"$root/${seg.dv.get._1}")
      .select("file").distinct().as[String].collect().toSeq
    assert(vectored == Seq(files(1)),
      s"the vector must name only the second file, got $vectored")
    val expected = (0L until 100L).filterNot(Set(90L, 91L, 99L)).toSet
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id")).as[Long].collect().toSet

    assert(ids(spark.read.format("graft-log").option("path", root)
      .option("mode", "snapshot").load()) == expected,
      "connector snapshot scan")
    val q = spark.readStream.table("gdvm.t").writeStream
      .format("memory").queryName("dv_multi_tail").start()
    try q.processAllAvailable() finally q.stop()
    assert(ids(spark.table("dv_multi_tail")) == expected,
      "first micro-batch of readStream.table")
    assert(ids(store.read()) == expected, "LogStore.read()")
    // the row-level scan reads the vectored group; its rewrite
    // carries over exactly the rows that scan returned
    spark.sql("UPDATE gdvm.t SET v = 'u' WHERE id >= 50")
    assert(ids(store.read()) == expected, "SQL UPDATE's row-level scan")
    assert(ids(store.read().where(col("v") === "u")) ==
      expected.filter(_ >= 50L))
  }
}
