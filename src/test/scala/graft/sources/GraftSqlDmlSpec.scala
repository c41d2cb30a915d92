package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.catalog.LogStore

/** SQL UPDATE / MERGE INTO through the DSv2 row-level-operation path:
  * copy-on-write at segment granularity, runtime group filtering
  * keeping untouched segments carried BY NAME, a truthful change
  * feed (minimal multiset diff), snapshot isolation, and the
  * `_segment` metadata column. */
class GraftSqlDmlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val root = {
    val dir = Files.createTempDirectory("graft-dml").toString
    spark.conf.set("spark.sql.catalog.gdml",
      "graft.sources.GraftLogCatalog")
    spark.conf.set("spark.sql.catalog.gdml.root", dir)
    dir
  }

  private def mkTable(name: String): LogStore = {
    root
    spark.sql(s"CREATE TABLE gdml.$name (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('statsCol' = 'id')")
    spark.sql(s"INSERT INTO gdml.$name SELECT id, " +
      "CAST(id AS STRING) FROM range(0, 100)")        // seg A: 0..99
    spark.sql(s"INSERT INTO gdml.$name SELECT id, " +
      "CAST(id AS STRING) FROM range(1000, 1100)")    // seg B: 1000..1099
    LogStore.configured(spark, s"$root/$name")
  }

  test("SQL UPDATE: assignments land, runtime group filtering " +
      "carries non-matching segments BY NAME, the feed is a truthful " +
      "delete+insert diff, and the pre-update snapshot survives") {
    val store = mkTable("upd")
    val before = store.liveSegmentInfos().map(_.name).toSet
    val vBefore = store.latestVersion()
    spark.sql("UPDATE gdml.upd SET v = concat('u-', v) " +
      "WHERE id >= 1050 AND id <= 1059")
    // content: exactly the ten rows updated
    val got = spark.sql("SELECT count(*), " +
      "sum(CAST(v LIKE 'u-%' AS INT)) FROM gdml.upd")
      .as[(Long, Long)].head()
    assert(got == ((200L, 10L)))
    assert(spark.sql("SELECT v FROM gdml.upd WHERE id = 1055")
      .head().getString(0) == "u-1055")
    // economics: segment A (0..99) holds no match — carried by name
    val after = store.liveSegmentInfos().map(_.name).toSet
    assert(before.count(after.contains) == 1,
      s"the non-matching segment must carry over by name " +
        s"(before=$before after=$after)")
    assert(store.latestVersion() == vBefore + 1, "one commit")
    // the feed: ten delete(old) + ten insert(new) in ONE commit —
    // the minimal multiset diff (190 carried rows cancel out)
    val feed = store.readChanges(vBefore + 1)
      .groupBy(col("_change_type")).agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(feed == Map("delete" -> 10L, "insert" -> 10L))
    // snapshot isolation: the pre-update version still reads old rows
    assert(store.read(vBefore).where(col("v").startsWith("u-"))
      .count() == 0L)
    // the _segment metadata attribute never lands in the table
    assert(store.recordedSchema().map(_.fieldNames.toSeq) ==
      Some(Seq("id", "v")))
  }

  test("SQL UPDATE matching nothing commits nothing") {
    val store = mkTable("upd0")
    val v = store.latestVersion()
    spark.sql("UPDATE gdml.upd0 SET v = 'x' WHERE id = 777777")
    assert(store.latestVersion() == v,
      "a no-match UPDATE must not burn a version")
    assert(spark.sql("SELECT count(*) FROM gdml.upd0")
      .head().getLong(0) == 200L)
  }

  test("DISJOINT interleaved SQL writers both land: the pushed " +
      "predicate range rides the ReadSet, so an UPDATE re-validates " +
      "past a concurrent out-of-range append — and conflicts with an " +
      "overlapping one; the pushed bounds also stats-prune the group " +
      "selection statically") {
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
    val store = mkTable("updrange")
    val dir = s"$root/updrange"
    def plannedUpdate(): (GraftRowLevelOperation, GraftRowLevelScan) = {
      val op = new GraftRowLevelOperation(dir,
        org.apache.spark.sql.connector.write.RowLevelOperation
          .Command.UPDATE)
      val sb = op.newScanBuilder(
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Collections.emptyMap()))
        .asInstanceOf[GraftRowLevelScanBuilder]
      // what GroupBasedRowLevelOperationScanPlanning pushes for
      // WHERE id BETWEEN 1000 AND 1099
      sb.pushFilters(Array(GreaterThanOrEqual("id", 1000L),
        LessThanOrEqual("id", 1099L)))
      (op, sb.build().asInstanceOf[GraftRowLevelScan])
    }
    def stageAndCommit(op: GraftRowLevelOperation,
        scan: GraftRowLevelScan): Unit = {
      // the rewritten group content Spark's ReplaceData would stage
      val rewritten = spark.read.parquet(
          scan.selected.map(s => s"$dir/$s"): _*)
        .withColumn("v", concat(lit("u-"), col("v")))
      val staged = Files.createTempDirectory("graft-dml-stage").toString
      val messages = LogDataWriterFactory(spark, dir, staged,
        rewritten.schema).writeRows(rewritten.coalesce(1))
      new GraftReplaceBatchWrite(dir, store.recordedSchema().get, op)
        .commit(messages.toArray[org.apache.spark.sql.connector.write
          .WriterCommitMessage])
    }
    // the pushed bounds statically prune the group selection to the
    // one overlapping segment — no runtime subquery needed
    val (op1, scan1) = plannedUpdate()
    assert(scan1.selected.size == 1,
      s"static stats prune expected 1 of 2 segments: ${scan1.selected}")
    assert(scan1.predRange == Some(("id", "1000", "1099")))
    // a DISJOINT append lands between planning and commit
    store.append(Seq((5000L, "late")).toDF("id", "v"))
    stageAndCommit(op1, scan1) // re-validates past the append
    assert(spark.sql("SELECT count(*) FROM gdml.updrange " +
      "WHERE v LIKE 'u-%'").head().getLong(0) == 100L,
      "the UPDATE landed")
    assert(spark.sql("SELECT count(*) FROM gdml.updrange " +
      "WHERE id = 5000").head().getLong(0) == 1L,
      "the concurrent append landed too")
    // an OVERLAPPING append (id inside [1000, 1099]) must conflict
    val (op2, scan2) = plannedUpdate()
    store.append(Seq((1050L, "racer")).toDF("id", "v"))
    intercept[Exception] { stageAndCommit(op2, scan2) }
  }

  test("a zero-group rewrite is a silent no-op ONLY when the table " +
      "is unchanged since the pinned read — a commit landing between " +
      "scan planning and write commit throws, never vanishes") {
    import spark.implicits._
    val store = mkTable("updrace")
    val dir = s"$root/updrace"
    val op = new GraftRowLevelOperation(dir,
      org.apache.spark.sql.connector.write.RowLevelOperation
        .Command.UPDATE)
    val scan = op.newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap())).build()
      .asInstanceOf[GraftRowLevelScan]
    // the runtime group filter found no matching groups (the
    // matching-groups subquery planned against a NEWER snapshot can
    // legitimately intersect the pinned selection to empty)
    scan.selectedInfos = Nil
    val write = new GraftReplaceBatchWrite(dir,
      store.recordedSchema().get, op)
    // control: unchanged table → genuine no-op, no commit, no throw
    val v0 = store.latestVersion()
    write.commit(Array.empty)
    assert(store.latestVersion() == v0)
    // race: a commit lands after the scan pinned its version — the
    // zero-group "no-op" must surface as a conflict, not silence
    store.append(Seq((5000L, "racer")).toDF("id", "v"))
    val write2 = new GraftReplaceBatchWrite(dir,
      store.recordedSchema().get, op)
    intercept[Exception] { write2.commit(Array.empty) }
  }

  test("SQL UPDATE on a FLOAT stats column: derived bounds use the " +
      "float's SHORTEST decimal repr (the spelling the log recorded) " +
      "— matching rows are found, never silently skipped, and the " +
      "out-of-range segment is still carried by name") {
    root
    spark.sql("CREATE TABLE gdml.fupd (id BIGINT, score FLOAT, " +
      "v STRING) TBLPROPERTIES ('statsCol' = 'score')")
    spark.sql("INSERT INTO gdml.fupd VALUES " +
      "(1, CAST(0.1 AS FLOAT), 'a'), (2, CAST(0.2 AS FLOAT), 'b'), " +
      "(3, CAST(0.3 AS FLOAT), 'c')")
    spark.sql("INSERT INTO gdml.fupd VALUES " +
      "(10, CAST(1.5 AS FLOAT), 'x'), (11, CAST(2.5 AS FLOAT), 'y')")
    val store = LogStore.configured(spark, s"$root/fupd")
    val before = store.liveSegmentInfos().map(_.name).toSet
    val vBefore = store.latestVersion()
    // the regression this pins: 0.1f widened through toDouble spells
    // "0.10000000149011612", which does NOT overlap the logged
    // ["0.1","0.3"] bounds as decimals — the segment would be
    // statically pruned and the UPDATE would silently skip its rows
    spark.sql("UPDATE gdml.fupd SET v = 'hit' " +
      "WHERE score = CAST(0.1 AS FLOAT)")
    assert(store.latestVersion() == vBefore + 1,
      "the UPDATE must land — a float literal's bounds must compare " +
        "consistently with the logged float stats")
    assert(spark.sql("SELECT v FROM gdml.fupd WHERE id = 1")
      .head().getString(0) == "hit")
    assert(spark.sql("SELECT count(*) FROM gdml.fupd WHERE v = 'hit'")
      .head().getLong(0) == 1L, "exactly one row matches 0.1f")
    // the [1.5, 2.5] segment is out of the derived bounds: carried
    val after = store.liveSegmentInfos().map(_.name).toSet
    assert((before & after).size == 1 && (before -- after).size == 1,
      s"only the overlapping segment may be rewritten: " +
        s"before=$before after=$after")
    // range DML on floats keeps working too (strict bound widening)
    spark.sql("UPDATE gdml.fupd SET v = 'big' " +
      "WHERE score > CAST(1.0 AS FLOAT)")
    assert(spark.sql("SELECT count(*) FROM gdml.fupd WHERE v = 'big'")
      .head().getLong(0) == 2L)
  }

  test("STRING stats column: a string equality statically prunes the " +
      "group selection 1-of-N, the pushed string range rides the " +
      "ReadSet so DISJOINT string-keyed UPDATEs interleave past each " +
      "other (and overlapping ones conflict), and unsafe spellings " +
      "degrade to always-scan — never mis-prune") {
    import org.apache.spark.sql.sources.EqualTo
    root
    spark.sql("CREATE TABLE gdml.supd (shop STRING, v STRING) " +
      "TBLPROPERTIES ('statsCol' = 'shop')")
    spark.sql("INSERT INTO gdml.supd VALUES ('alpha','1'), ('beta','2')")
    spark.sql("INSERT INTO gdml.supd VALUES ('mango','3'), ('nopal','4')")
    val store = LogStore.configured(spark, s"$root/supd")
    val dir = s"$root/supd"
    def plannedUpdate(key: String)
        : (GraftRowLevelOperation, GraftRowLevelScan) = {
      val op = new GraftRowLevelOperation(dir,
        org.apache.spark.sql.connector.write.RowLevelOperation
          .Command.UPDATE)
      val sb = op.newScanBuilder(
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Collections.emptyMap()))
        .asInstanceOf[GraftRowLevelScanBuilder]
      sb.pushFilters(Array(EqualTo("shop", key)))
      (op, sb.build().asInstanceOf[GraftRowLevelScan])
    }
    def stageAndCommit(op: GraftRowLevelOperation,
        scan: GraftRowLevelScan): Unit = {
      val rewritten = spark.read.parquet(
          scan.selected.map(s => s"$dir/$s"): _*)
        .withColumn("v", concat(lit("u-"), col("v")))
      val staged = Files.createTempDirectory("graft-dml-stage").toString
      val messages = LogDataWriterFactory(spark, dir, staged,
        rewritten.schema).writeRows(rewritten.coalesce(1))
      new GraftReplaceBatchWrite(dir, store.recordedSchema().get, op)
        .commit(messages.toArray[org.apache.spark.sql.connector.write
          .WriterCommitMessage])
    }
    // static 1-of-N prune on the string bounds + the pushed range
    val (op1, scan1) = plannedUpdate("beta")
    assert(scan1.selected.size == 1,
      s"'beta' must statically prune to the [alpha,beta] segment: " +
        s"${scan1.selected}")
    assert(scan1.predRange == Some(("shop", "beta", "beta")),
      s"the string equality must ride as the ReadSet range: " +
        s"${scan1.predRange}")
    // a DISJOINT writer lands between planning and commit (a key
    // outside [beta, beta]) — the range re-validates past it
    spark.sql("INSERT INTO gdml.supd VALUES ('zebra','9')")
    stageAndCommit(op1, scan1)
    assert(spark.sql("SELECT v FROM gdml.supd WHERE shop = 'beta'")
      .head().getString(0) == "u-2", "the string-keyed UPDATE landed")
    assert(spark.sql("SELECT count(*) FROM gdml.supd")
      .head().getLong(0) == 5L, "the concurrent insert landed too")
    // an OVERLAPPING writer (same key) must conflict
    val (op2, scan2) = plannedUpdate("mango")
    spark.sql("INSERT INTO gdml.supd VALUES ('mango','5')")
    intercept[Exception] { stageAndCommit(op2, scan2) }
    // full-SQL end-to-end on the string key
    spark.sql("UPDATE gdml.supd SET v = 'hit' WHERE shop = 'nopal'")
    assert(spark.sql("SELECT v FROM gdml.supd WHERE shop = 'nopal'")
      .head().getString(0) == "hit")
    // unsafe spellings (a quote breaks the line grammar; non-ASCII
    // breaks order agreement) record NO bounds: the segment always
    // scans, rows stay reachable and exactly correct
    spark.sql("INSERT INTO gdml.supd VALUES ('qu\"ote','6'), ('ünïcode','7')")
    val unsafeSeg = store.liveSegmentInfos().last
    assert(unsafeSeg.min.isEmpty && unsafeSeg.max.isEmpty,
      s"grammar-unsafe string values must record NO bounds: $unsafeSeg")
    spark.sql("UPDATE gdml.supd SET v = 'q' WHERE shop = 'qu\"ote'")
    assert(spark.sql("SELECT v FROM gdml.supd WHERE shop = 'qu\"ote'")
      .head().getString(0) == "q",
      "rows with grammar-unsafe keys must stay updatable (always-scan)")
    // read-path skipping: a point SELECT on the string stats column
    // scans only overlapping segments (the readRange probe)
    val (_, opened, live) = store.readRange("alpha", "alpha")
    assert(opened < live,
      s"string bounds must skip non-overlapping segments: $opened/$live")
  }

  test("a zero-group no-op re-validates winners like a commit: " +
      "fences and out-of-range appends pass through (still a clean " +
      "no-op, no version burned), an add inside the pushed range " +
      "conflicts") {
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
    val store = mkTable("updnoop")
    val dir = s"$root/updnoop"
    def plannedNoMatch(): (GraftRowLevelOperation, GraftRowLevelScan) = {
      val op = new GraftRowLevelOperation(dir,
        org.apache.spark.sql.connector.write.RowLevelOperation
          .Command.UPDATE)
      val sb = op.newScanBuilder(
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Collections.emptyMap()))
        .asInstanceOf[GraftRowLevelScanBuilder]
      // WHERE id BETWEEN 500 AND 600 — a gap between the segments
      sb.pushFilters(Array(GreaterThanOrEqual("id", 500L),
        LessThanOrEqual("id", 600L)))
      (op, sb.build().asInstanceOf[GraftRowLevelScan])
    }
    val (op1, scan1) = plannedNoMatch()
    assert(scan1.selected.isEmpty,
      s"the gap range must statically select no group: ${scan1.selected}")
    // DISJOINT winners land after the pinned read: a txn fence and an
    // append whose stats sit outside the pushed [500, 600] range
    store.commitFence(42L)
    store.append(Seq((5000L, "late")).toDF("id", "v"))
    val v = store.latestVersion()
    new GraftReplaceBatchWrite(dir, store.recordedSchema().get, op1)
      .commit(Array.empty)
    assert(store.latestVersion() == v,
      "a provably-unaffected no-op DML must stay a clean no-op — no " +
        "conflict, no junk commit")
    // an add INSIDE the range: the 'no rows matched' conclusion is
    // stale — conflict, exactly like a non-empty commit would
    val (op2, _) = plannedNoMatch()
    store.append(Seq((550L, "racer")).toDF("id", "v"))
    intercept[Exception] {
      new GraftReplaceBatchWrite(dir, store.recordedSchema().get, op2)
        .commit(Array.empty)
    }
  }

  test("SQL MERGE INTO: matched-update, matched-delete and " +
      "not-matched-insert in one atomic commit, stats-pruned to the " +
      "touched segments, with a truthful net feed") {
    val store = mkTable("mrg")
    val before = store.liveSegmentInfos().map(_.name).toSet
    val vBefore = store.latestVersion()
    Seq((1050L, "m-1050"), (1051L, "DELETE_ME"), (5000L, "m-5000"))
      .toDF("id", "v").createOrReplaceTempView("dml_src")
    spark.sql("""MERGE INTO gdml.mrg t USING dml_src s ON t.id = s.id
      |WHEN MATCHED AND s.v = 'DELETE_ME' THEN DELETE
      |WHEN MATCHED THEN UPDATE SET v = s.v
      |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)
      |""".stripMargin)
    assert(store.latestVersion() == vBefore + 1, "one atomic commit")
    val cnt = spark.sql("SELECT count(*) FROM gdml.mrg")
      .head().getLong(0)
    assert(cnt == 200L, "one delete + one insert nets to 200")
    assert(spark.sql("SELECT v FROM gdml.mrg WHERE id = 1050")
      .head().getString(0) == "m-1050")
    assert(spark.sql("SELECT count(*) FROM gdml.mrg WHERE id = 1051")
      .head().getLong(0) == 0L)
    assert(spark.sql("SELECT v FROM gdml.mrg WHERE id = 5000")
      .head().getString(0) == "m-5000")
    // segment A (0..99) holds no source key: carried by name
    val after = store.liveSegmentInfos().map(_.name).toSet
    assert(before.count(after.contains) == 1,
      s"MERGE must not rewrite non-matching segments " +
        s"(before=$before after=$after)")
    // the feed nets per key to exactly the merge's effect: updated
    // and deleted old rows as delete, updated-new + inserted as insert
    val feed = store.readChanges(vBefore + 1)
      .groupBy(col("_change_type")).agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(feed == Map("delete" -> 2L, "insert" -> 2L),
      s"minimal diff expected, got $feed")
  }

  test("a keyed mirror of a SQL-updated table equals the table: the " +
      "delete+insert diff nets to the upsert through netChangesKeyed") {
    val store = mkTable("mirr")
    val targetRoot = Files.createTempDirectory("graft-dml-mirror")
      .toString + "/t"
    val target = new LogStore(spark, targetRoot, statsCol = Some("id"))
    graft.streaming.StreamingOps.mirrorLogToLogKeyed(store, target,
      Seq("id"))
    spark.sql("UPDATE gdml.mirr SET v = 'mm' WHERE id IN (3, 1003)")
    graft.streaming.StreamingOps.mirrorLogToLogKeyed(store, target,
      Seq("id"))
    val want = spark.sql("SELECT id, v FROM gdml.mirr")
      .as[(Long, String)].collect().toSet
    val got = target.read().select("id", "v")
      .as[(Long, String)].collect().toSet
    assert(got == want, "mirror must equal the source snapshot")
    assert(got.contains((3L, "mm")) && got.contains((1003L, "mm")))
  }

  test("row-level DML composes with ALTER TABLE ADD COLUMN: UPDATE " +
      "and MERGE across the evolution read null-backfilled rows and " +
      "write the evolved shape") {
    val store = mkTable("updevo")
    spark.sql("ALTER TABLE gdml.updevo ADD COLUMN score DOUBLE")
    // the evolved column is assignable where old rows carried nothing
    spark.sql("UPDATE gdml.updevo SET score = CAST(id AS DOUBLE) " +
      "WHERE id BETWEEN 0 AND 49")
    assert(spark.sql("SELECT count(*) FROM gdml.updevo " +
      "WHERE score IS NOT NULL").head().getLong(0) == 50L)
    assert(spark.sql("SELECT count(*) FROM gdml.updevo " +
      "WHERE score IS NULL").head().getLong(0) == 150L)
    // MERGE writes the evolved shape too
    import spark.implicits._
    Seq((1000L, "m", 9.0), (7777L, "new", 1.5))
      .toDF("id", "v", "score").createOrReplaceTempView("updevo_src")
    spark.sql("""MERGE INTO gdml.updevo t USING updevo_src s
      |ON t.id = s.id
      |WHEN MATCHED THEN UPDATE SET v = s.v, score = s.score
      |WHEN NOT MATCHED THEN INSERT (id, v, score)
      |  VALUES (s.id, s.v, s.score)""".stripMargin)
    assert(spark.sql("SELECT v, score FROM gdml.updevo WHERE id = 1000")
      .as[(String, Double)].head() == (("m", 9.0)))
    assert(spark.sql("SELECT count(*) FROM gdml.updevo")
      .head().getLong(0) == 201L)
    // the recorded schema stayed the evolved union throughout
    assert(store.recordedSchema().get.fieldNames.toSeq ==
      Seq("id", "v", "score"))
  }

  test("the _segment metadata column is queryable and matches the " +
      "live segment set") {
    val store = mkTable("segcol")
    val segs = spark.sql(
      "SELECT DISTINCT _segment FROM gdml.segcol ORDER BY _segment")
      .as[String].collect().toSet
    assert(segs == store.liveSegmentInfos().map(_.name).toSet)
    // and it never leaks into SELECT *
    assert(!spark.sql("SELECT * FROM gdml.segcol").columns
      .contains("_segment"))
  }

  test("general-predicate DELETE (not expressible as a metadata " +
      "delete) falls through to the row-level path and stays correct") {
    val store = mkTable("gdel")
    val vBefore = store.latestVersion()
    // id % 7 has no Filter translation → not a metadata delete
    spark.sql("DELETE FROM gdml.gdel WHERE id % 7 = 0 AND id < 100")
    val left = spark.sql("SELECT count(*) FROM gdml.gdel")
      .head().getLong(0)
    assert(left == 200L - 15L) // 0,7,...,98
    assert(store.latestVersion() == vBefore + 1)
    val feed = store.readChanges(vBefore + 1)
      .groupBy(col("_change_type")).agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(feed == Map("delete" -> 15L))
  }

  test("ALTER COLUMN TYPE widening: INT->LONG and FLOAT->DOUBLE are " +
      "metadata-only commits — old narrow segments up-cast at scan " +
      "time on BOTH read paths, time travel shows the old type, " +
      "bound pruning keeps working on a WIDENED stats column, and " +
      "narrowing / cross-family changes refuse") {
    root
    spark.sql("CREATE TABLE gdml.widen (id INT, score FLOAT, v STRING)" +
      " TBLPROPERTIES ('statsCol' = 'id')")
    spark.sql("INSERT INTO gdml.widen VALUES " +
      "(1, CAST(0.5 AS FLOAT), 'a'), (2, CAST(1.5 AS FLOAT), 'b')")
    spark.sql("INSERT INTO gdml.widen VALUES " +
      "(100, CAST(2.5 AS FLOAT), 'c'), (101, CAST(3.5 AS FLOAT), 'd')")
    val store = LogStore.configured(spark, s"$root/widen")
    val vNarrow = store.latestVersion()
    spark.sql("ALTER TABLE gdml.widen ALTER COLUMN id TYPE BIGINT")
    spark.sql("ALTER TABLE gdml.widen ALTER COLUMN score TYPE DOUBLE")
    assert(store.latestVersion() == vNarrow + 2,
      "two metadata-only commits, zero data bytes")
    // post-widen writes land WIDE values beyond the narrow ranges
    spark.sql("INSERT INTO gdml.widen VALUES " +
      s"(${Int.MaxValue.toLong + 7L}L, CAST(9.5 AS DOUBLE), 'wide')")
    // the SQL (DSv2 connector) read path: widened schema, old int32 /
    // float bytes up-cast, new wide rows exact
    val sqlTypes = spark.table("gdml.widen").schema
      .fields.map(f => f.name -> f.dataType.simpleString).toMap
    assert(sqlTypes("id") == "bigint" && sqlTypes("score") == "double",
      s"widened logical types must serve through SQL: $sqlTypes")
    assert(spark.sql("SELECT sum(id) FROM gdml.widen").head().getLong(0)
      == 1L + 2L + 100L + 101L + (Int.MaxValue.toLong + 7L))
    assert(spark.sql(
      "SELECT sum(CAST(score * 2 AS BIGINT)) FROM gdml.widen")
      .head().getLong(0) == 1L + 3L + 5L + 7L + 19L)
    // the programmatic (native parquet scan) read path agrees
    assert(store.read().schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(store.read().agg(sum(col("id"))).head().getLong(0)
      == 204L + Int.MaxValue.toLong + 7L)
    // time travel presents the NARROW type as of its version
    assert(store.read(vNarrow).schema("id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(spark.sql(
      s"SELECT sum(id) FROM gdml.widen VERSION AS OF $vNarrow")
      .head().getLong(0) == 204L)
    // bound pruning on the WIDENED stats column: bounds were recorded
    // under INT spellings, the probe is a LONG range — BigDecimal
    // compare prunes exactly (1 of 3 segments overlaps 90..110)
    val (_, scanned, live) = store.readRangeOn("id", "90", "110")
    assert(live == 3 && scanned == 1,
      s"widened stats column must keep pruning: $scanned of $live")
    // and a stats-pruned SQL UPDATE through the row-level path still
    // carries the non-matching narrow segments by name
    val before = store.liveSegmentInfos().map(_.name).toSet
    spark.sql("UPDATE gdml.widen SET v = 'u' WHERE id = 100L")
    val after = store.liveSegmentInfos().map(_.name).toSet
    assert((before & after).size == 2,
      s"non-overlapping segments carried: before=$before after=$after")
    assert(spark.sql("SELECT v FROM gdml.widen WHERE id = 100L")
      .head().getString(0) == "u")
    // refusals: SQL narrowing is stopped by Spark's own analyzer
    // (AlterColumns admits up-casts only); the programmatic surface
    // keeps its reasoned refusal for narrowing AND cross-family
    val e1 = intercept[Exception] {
      spark.sql("ALTER TABLE gdml.widen ALTER COLUMN id TYPE INT")
    }
    assert(e1.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"))
    val e2 = intercept[Exception] {
      store.widenColumn("v",
        org.apache.spark.sql.types.LongType)
    }
    assert(e2.getMessage.contains("not a widening"))
    val e3 = intercept[Exception] {
      store.widenColumn("score",
        org.apache.spark.sql.types.FloatType)
    }
    assert(e3.getMessage.contains("not a widening"))
  }
}
