package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Coalesce, Expression, GenericInternalRow, MetadataAttribute, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{AlwaysFalse, AlwaysTrue, And, DataSourceRegister, EqualNullSafe, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Not, Or}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.catalog.LogStore

/** The [[graft.catalog.LogStore]] change feed as a NATIVE DataSource
  * V2 streaming source — `spark.readStream.format("graft-log")
  * .option("path", root).load()` — so a transactional table's
  * commits compose with the WHOLE streaming engine: watermarks,
  * windowed aggregations, stream-static joins, any sink. This
  * replaces the rate-clock + foreachBatch wiring (a scheduler hack
  * that could only do table→table sync) with the thing it stood in
  * for: a `MicroBatchStream` whose OFFSETS ARE COMMIT VERSIONS.
  *
  *  - **Offsets = versions.** `latestOffset` is the table's newest
  *    committed version; `planInputPartitions(a, b)` plans exactly
  *    the change feed of versions (a, b] — each cdc segment's rows
  *    verbatim, each pure-add commit's rows as implied inserts, each
  *    dataChange=false commit (compact / optimize / vacuum / fence)
  *    as nothing, the readChanges classification bit for bit. The
  *    engine's checkpoint stores plain version numbers, so restart
  *    resumes mid-history with no source-side state.
  *  - **One partition per parquet file** of each change segment —
  *    executor parallelism scales with the data of the batch, not
  *    with versions.
  *  - **Readers are Spark's own** [[ParquetFileFormat]] reader over
  *    immutable segment files — the one `LogStore.read()` runs — so
  *    every encoding reads as it does there (schema-evolved old
  *    segments read null in added columns). No driver
  *    materialization anywhere: the driver plans file paths, the
  *    executors read bytes.
  *  - **Vacuum refuses loudly.** Planning a range behind the vacuum
  *    horizon throws (surfacing as a stream error), mirroring
  *    `readChanges` — a tail must resync from a snapshot, never skip
  *    a gap silently.
  *
  * Options: `path` (table root, required); `startingVersion` (first
  * version to stream, default 0 — i.e. the full history — or
  * `latest` to tail only commits after stream start);
  * `maxVersionsPerTrigger` (admission control: cap the commits
  * absorbed per micro-batch, default unbounded).
  *
  * The same provider also serves BATCH reads of the feed —
  * `spark.read.format("graft-log").option("path", root)` with
  * `changesFrom`/`changesTo` version bounds (default full history) —
  * the CDF backfill/audit path; and the connector prunes columns
  * ([[SupportsPushDownRequiredColumns]]), so narrow projections
  * decode only the requested columns. SNAPSHOT reads ride
  * `.option("mode", "snapshot")` ([[LogSnapshotScanBuilder]]): the
  * live rows with filter pushdown mapped to segment skipping and
  * `versionAsOf`/`timestampAsOf` time travel.
  *
  * Schema: the current snapshot's (flat columns only — the
  * line-of-business shape LogStore tables carry) plus, on the feed
  * paths, `_change_type STRING` and `_commit_version LONG`, the same
  * feed columns `readChanges` emits. */
class LogStreamProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-log"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val root = LogStreamSource.requirePath(options)
    if (LogStreamSource.isSnapshot(options.get("mode")))
      LogStreamSource.snapshotSchema(root)
    else LogStreamSource.feedSchema(root)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new LogStreamTable(schema,
      properties.get("path"),
      Option(properties.get("startingVersion")),
      Option(properties.get("maxVersionsPerTrigger")).map(_.toLong),
      Option(properties.get("changesFrom")).map(_.toLong),
      Option(properties.get("changesTo")).map(_.toLong),
      snapshot = LogStreamSource.isSnapshot(properties.get("mode")),
      versionAsOf = Option(properties.get("versionAsOf")).map(_.toLong),
      timestampAsOf =
        Option(properties.get("timestampAsOf")).map(_.toLong))
}

object LogStreamSource {
  private[sources] def requirePath(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "graft-log needs .option(\"path\", <table root>)")
    p
  }

  private val supported: Set[DataType] = Set(BooleanType, ByteType,
    ShortType, IntegerType, LongType, FloatType, DoubleType, StringType,
    BinaryType, DateType, TimestampType, TimestampNTZType)

  private[sources] def isSnapshot(mode: String): Boolean =
    mode != null && (mode.toLowerCase match {
      case "snapshot" => true
      case "cdf" | "changes" => false
      case other => throw new IllegalArgumentException(
        s"graft-log mode '$other'; expected 'snapshot' or 'cdf'")
    })

  /** The table's own columns, every field nullable (old segments may
    * predate evolved columns), scalar-checked — the shared base of the
    * snapshot and feed schemas. */
  private[sources] def snapshotSchema(root: String): StructType = {
    val spark = SparkSession.active
    val store = new LogStore(spark, root)
    // a path with no log yet infers an EMPTY schema — the write-path
    // case (creating the table); reads refuse loudly at planning
    if (store.latestVersion() < 0) return new StructType()
    val snap = store.recordedSchema().getOrElse(store.read().schema)
    snap.fields.foreach { f =>
      // flat scalars plus ARRAYS OF scalars (embedding tables — the
      // streaming index-maintenance loop tails them)
      val ok = f.dataType match {
        case dt if supported.contains(dt) => true
        case _: DecimalType => true
        case ArrayType(e, _) =>
          supported.contains(e) || e.isInstanceOf[DecimalType]
        case _ => false
      }
      require(ok,
        s"graft-log streams flat columns and arrays of scalars; " +
          s"'${f.name}' is ${f.dataType}")
    }
    StructType(snap.fields.toSeq.map(_.copy(nullable = true)))
  }

  /** Snapshot schema + feed columns. */
  private[sources] def feedSchema(root: String): StructType =
    StructType(snapshotSchema(root).fields.toSeq ++ Seq(
      StructField("_change_type", StringType, nullable = true),
      StructField("_commit_version", LongType, nullable = false)))
}

final class LogStreamTable(schema: StructType, root: String,
    startingVersion: Option[String], maxVersionsPerTrigger: Option[Long],
    changesFrom: Option[Long], changesTo: Option[Long],
    snapshot: Boolean = false, versionAsOf: Option[Long] = None,
    timestampAsOf: Option[Long] = None,
    acceptAnySchema: Boolean = true,
    readOnly: Boolean = false)
    extends Table with SupportsRead with SupportsWrite
    with SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  override def name(): String = s"graft_log($root)"
  override def schema(): StructType = schema
  // the recorded CHECK constraints, advertised so Spark's own
  // analyzer-side enforcement (ResolveTableConstraints) guards SQL
  // INSERT plans too — defense in depth on top of the log's write
  // gates, and DESCRIBE shows them. CATALOG-loaded tables only
  // (!acceptAnySchema): there Spark's store assignment null-fills
  // missing columns before the injected check-invariant filter, so
  // it resolves. A PATH-based write contractually accepts NARROWER
  // frames (ACCEPT_ANY_SCHEMA) with no such padding — advertising
  // would fail analysis on a legal write; those stay gated by the
  // log's own staged-bytes validation, which pads typed NULLs itself.
  override def constraints(): Array[
      org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    if (acceptAnySchema) Array.empty
    else graft.catalog.LogStore.configured(
        org.apache.spark.sql.SparkSession.active, root)
      .checkConstraints().toSeq.sortBy(_._1).map { case (n, sql) =>
        val b = org.apache.spark.sql.connector.catalog.constraints
          .Constraint.check(n)
        b.predicateSql(sql)
        b.enforced(true)
        b.validationStatus(org.apache.spark.sql.connector.catalog
          .constraints.Constraint.ValidationStatus.VALID)
        b.build(): org.apache.spark.sql.connector.catalog.constraints
          .Constraint
      }.toArray
  // ACCEPT_ANY_SCHEMA (path-based format only): Spark's write check
  // would refuse the add-a-column evolution the table contractually
  // accepts; schema validation is the commit gate's job
  // (enforceSchema at publish). CATALOG-loaded tables must NOT
  // advertise it — SQL INSERT relies on Spark's store-assignment
  // resolution to cast literals to the table schema by position, and
  // skipping it would land untyped col1/col2/... columns.
  // READ-ONLY tables (the `t$changes` metadata view) advertise no
  // write/delete capability at all: an INSERT INTO t$changes would
  // append feed-shaped rows (silently evolving _change_type into the
  // base table) and a DELETE FROM t$changes would delete BASE rows —
  // both refuse at analysis instead.
  override def capabilities(): util.Set[TableCapability] = {
    val reads: Set[TableCapability] =
      Set(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
    val base =
      if (readOnly) reads
      else reads + TableCapability.BATCH_WRITE +
        TableCapability.STREAMING_WRITE +
        // INSERT OVERWRITE / mode("overwrite"): truncate-then-append
        // as ONE atomic publishReplace commit (LogWriteBuilder)
        TableCapability.TRUNCATE
    (if (acceptAnySchema && !readOnly)
       base + TableCapability.ACCEPT_ANY_SCHEMA
     else base).asJava
  }
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    if (snapshot)
      new LogSnapshotScanBuilder(schema, root, versionAsOf,
        timestampAsOf)
    else new LogStreamScanBuilder(schema, root, startingVersion,
      maxVersionsPerTrigger, changesFrom, changesTo)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    if (readOnly) throw new UnsupportedOperationException(
      s"${name()} is a read-only metadata table — write to the base " +
        "table instead")
    new LogWriteBuilder(root, info)
  }

  // SQL UPDATE / MERGE INTO (and the general-predicate DELETE):
  // group-based copy-on-write over segments, runtime-group-filtered —
  // see [[GraftRowLevelOperationBuilder]]. The feed/metadata views
  // refuse: row-level DML targets the TABLE, not a changes stream.
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    if (readOnly) throw new UnsupportedOperationException(
      s"${name()} is a read-only metadata table — run DML against " +
        "the base table instead")
    if (!snapshot) throw new UnsupportedOperationException(
      "row-level operations run on the snapshot table, not the " +
        "change feed")
    new GraftRowLevelOperationBuilder(root, info)
  }

  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(GraftSegmentMetadataColumn)

  // ---- SQL DELETE FROM / TRUNCATE (SupportsDelete) ----
  // The implicitly-ANDed filters become ONE logical delete commit:
  // a closed range (>=, <=, =) on a configured stats column takes the
  // stats-pruned deleteRange path (rewrite only the overlapping
  // segments); anything else translates to a predicate for the
  // general copy-on-write delete. NULL semantics are SQL's: a row
  // where the predicate is NULL is NOT deleted (the translator wraps
  // the predicate in coalesce(..., false)). Untranslatable filters
  // refuse at canDeleteWhere, so Spark reports a clear error instead
  // of a wrong delete.
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    !readOnly && (LogDeleteSql.rangeOf(
      LogStore.configured(SparkSession.active, root), filters)
      .nonEmpty ||
      filters.forall(LogDeleteSql.sql(_).nonEmpty))

  override def deleteWhere(filters: Array[Filter]): Unit = {
    if (readOnly) throw new UnsupportedOperationException(
      s"${name()} is a read-only metadata table — DELETE FROM the " +
        "base table instead")
    val store = LogStore.configured(SparkSession.active, root)
    // dvDeletes tables route row deletes merge-on-read — zero bytes
    // rewritten; TRUNCATE (no filters) stays copy-on-write: vectoring
    // EVERY row would cost more than the one-segment empty rewrite
    val dv = store.dvDeleteMode && filters.nonEmpty
    LogDeleteSql.rangeOf(store, filters) match {
      case Some((c, lo, hi)) =>
        if (dv) store.deleteRangeDV(c, lo, hi)
        else store.deleteRange(c, lo, hi)
      case None =>
        val preds = filters.map(f => LogDeleteSql.sql(f).getOrElse(
          throw new UnsupportedOperationException(
            s"cannot translate $f to a delete predicate")))
        val pred =
          if (preds.isEmpty) "true" else preds.mkString("(", ") AND (", ")")
        if (dv) store.deleteWhereDV(pred) else store.deleteWhere(pred)
    }
  }
}

/** Filter → Spark SQL predicate text, and the closed-range fast path
  * for [[graft.catalog.LogStore.deleteRange]]. Conservative by
  * construction: any literal or shape that cannot be rendered
  * LOSSLESSLY refuses (None), and the caller surfaces that refusal
  * loudly rather than deleting the wrong rows. */
private[sources] object LogDeleteSql {
  import graft.catalog.LogStore

  private def ident(c: String): String = "`" + c.replace("`", "``") + "`"

  private def lit(v: Any): Option[String] = v match {
    case null => None
    case s: String => Some("'" +
      s.replace("\\", "\\\\").replace("'", "\\'") + "'")
    case u: UTF8String => lit(u.toString)
    case b: java.lang.Boolean => Some(b.toString)
    case n @ (_: java.lang.Byte | _: java.lang.Short |
        _: java.lang.Integer | _: java.lang.Long) => Some(n.toString)
    case f: java.lang.Float =>
      if (java.lang.Float.isFinite(f)) Some(s"CAST($f AS FLOAT)")
      else None
    case d: java.lang.Double =>
      if (java.lang.Double.isFinite(d)) Some(s"CAST($d AS DOUBLE)")
      else None
    case d: java.math.BigDecimal => Some(d.toPlainString + "BD")
    case d: BigDecimal => Some(d.underlying.toPlainString + "BD")
    case d: java.sql.Date => Some(s"DATE'$d'")
    case d: java.time.LocalDate => Some(s"DATE'$d'")
    case t: java.sql.Timestamp => Some(s"TIMESTAMP'$t'")
    case _ => None
  }

  /** One filter as predicate text (None = untranslatable). */
  def sql(f: Filter): Option[String] = f match {
    case AlwaysTrue() => Some("true")
    case AlwaysFalse() => Some("false")
    case EqualTo(c, v) => lit(v).map(l => s"(${ident(c)} = $l)")
    case EqualNullSafe(c, null) => Some(s"(${ident(c)} IS NULL)")
    case EqualNullSafe(c, v) => lit(v).map(l => s"(${ident(c)} <=> $l)")
    case GreaterThan(c, v) => lit(v).map(l => s"(${ident(c)} > $l)")
    case GreaterThanOrEqual(c, v) =>
      lit(v).map(l => s"(${ident(c)} >= $l)")
    case LessThan(c, v) => lit(v).map(l => s"(${ident(c)} < $l)")
    case LessThanOrEqual(c, v) =>
      lit(v).map(l => s"(${ident(c)} <= $l)")
    case In(c, vs) =>
      if (vs.isEmpty) Some("false")
      else {
        val ls = vs.map(lit)
        if (ls.exists(_.isEmpty)) None
        else Some(s"(${ident(c)} IN (${ls.flatten.mkString(", ")}))")
      }
    case IsNull(c) => Some(s"(${ident(c)} IS NULL)")
    case IsNotNull(c) => Some(s"(${ident(c)} IS NOT NULL)")
    case And(l, r) => for (a <- sql(l); b <- sql(r))
      yield s"($a AND $b)"
    case Or(l, r) => for (a <- sql(l); b <- sql(r))
      yield s"($a OR $b)"
    case Not(ch) => sql(ch).map(s => s"(NOT $s)")
    case _ => None
  }

  /** The stats-pruned fast path: every filter a CLOSED bound (=, >=,
    * <=) on the SAME configured stats column with an exactly-
    * stringable literal → deleteRange(c, lo, hi). Strict bounds must
    * NOT take this path (deleteRange is inclusive). */
  def rangeOf(store: LogStore, filters: Array[Filter])
      : Option[(String, String, String)] = {
    if (filters.isEmpty) return None
    def statsStr(v: Any): Option[String] = v match {
      case null => None
      case _: java.lang.Byte | _: java.lang.Short |
          _: java.lang.Integer | _: java.lang.Long |
          _: java.math.BigDecimal => Some(v.toString)
      case d: BigDecimal => Some(d.toString)
      case d: java.sql.Date => Some(d.toString)
      case d: java.time.LocalDate => Some(d.toString)
      case _ => None
    }
    var col: String = null
    var lo: Option[String] = None
    var hi: Option[String] = None
    filters.foreach {
      case EqualTo(c, v) if col == null || col == c =>
        val s = statsStr(v).getOrElse(return None)
        col = c
        lo = Some(lo.filter(l => bdGe(l, s)).getOrElse(s))
        hi = Some(hi.filter(h => bdLe(h, s)).getOrElse(s))
      case GreaterThanOrEqual(c, v) if col == null || col == c =>
        val s = statsStr(v).getOrElse(return None)
        col = c
        lo = Some(lo.filter(l => bdGe(l, s)).getOrElse(s))
      case LessThanOrEqual(c, v) if col == null || col == c =>
        val s = statsStr(v).getOrElse(return None)
        col = c
        hi = Some(hi.filter(h => bdLe(h, s)).getOrElse(s))
      case _ => return None
    }
    if (col == null || lo.isEmpty || hi.isEmpty) return None
    if (!store.configuredStatsColumns.contains(col)) return None
    // equality/ranges on DATE columns compare lexicographically in
    // the store; numerics via BigDecimal — both already exact
    Some((col, lo.get, hi.get))
  }

  private def bdGe(a: String, b: String): Boolean =
    try BigDecimal(a) >= BigDecimal(b)
    catch { case _: NumberFormatException => a >= b }
  private def bdLe(a: String, b: String): Boolean =
    try BigDecimal(a) <= BigDecimal(b)
    catch { case _: NumberFormatException => a <= b }
}

/** Column pruning at the connector ([[SupportsPushDownRequiredColumns]]):
  * the executor-side parquet reader decodes ONLY the requested
  * columns — a 2-column projection over a wide feed reads 2 column
  * chunks per row group, and `.explain` shows the narrow ReadSchema. */
final class LogStreamScanBuilder(schema: StructType, root: String,
    startingVersion: Option[String], maxVersionsPerTrigger: Option[Long],
    changesFrom: Option[Long], changesTo: Option[Long])
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new LogStreamScan(required, root,
    startingVersion, maxVersionsPerTrigger, changesFrom, changesTo)
}

final class LogStreamScan(schema: StructType, root: String,
    startingVersion: Option[String], maxVersionsPerTrigger: Option[Long],
    changesFrom: Option[Long], changesTo: Option[Long]) extends Scan {
  override def readSchema(): StructType = schema
  override def description(): String = s"GraftLogStream($root)"
  override def toMicroBatchStream(
      checkpointLocation: String): MicroBatchStream =
    new LogMicroBatchStream(schema, root, startingVersion,
      maxVersionsPerTrigger)
  override def toBatch: Batch =
    new LogFeedBatch(schema, root, changesFrom, changesTo)
}

/** BATCH read of the change feed — `spark.read.format("graft-log")`
  * with `changesFrom`/`changesTo` version options (defaults: the full
  * readable history): the same per-version planning and executor-side
  * readers as the streaming path, so CDF backfills and audits run as
  * plain DataFrames with the engine's whole optimizer behind them.
  * Snapshot reads stay `LogStore.read()` — a batch over this source
  * is by definition the FEED (the Delta `readChangeFeed` shape). */
final class LogFeedBatch(schema: StructType, root: String,
    changesFrom: Option[Long], changesTo: Option[Long]) extends Batch {
  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val store = new LogStore(spark, root)
    val latest = store.latestVersion()
    require(latest >= 0, s"no log at $root")
    val to = math.min(changesTo.getOrElse(latest), latest)
    val from = changesFrom.getOrElse(0L)
    require(from >= 0 && from <= to,
      s"bad change range [$from, $to]")
    LogStreamPlanning.partitionsFor(spark, store, root, from, to)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    LogStreamPlanning.readerFactory(SparkSession.active, schema,
      vectored = false)
}

/** The planning and reading kernel shared by every graft-log scan —
  * feed batch, micro-batch feed, table stream, snapshot batch and the
  * row-level group scan: one partition per parquet file, read by
  * Spark's own [[ParquetFileFormat]] reader, the one `LogStore.read()`
  * runs under `FileSourceScanExec`. */
private[sources] object LogStreamPlanning {
  /** Change-bearing segment files of versions [from, to], behind the
    * vacuum-horizon refusal. */
  def partitionsFor(spark: SparkSession, store: LogStore, root: String,
      from: Long, to: Long): Array[InputPartition] = {
    if (to < from) return Array.empty
    val horizon = store.currentVacuumHorizon()
    if (from < horizon)
      throw new IllegalStateException(
        s"versions [$from, ${horizon - 1}] were vacuumed (horizon " +
          s"$horizon): the change feed must resync from a snapshot, " +
          "never skip a gap silently")
    (from to to).flatMap { v =>
      store.changeSegmentsOf(v).flatMap { case (seg, implied) =>
        filesOf(spark, root, seg, v, implied)
      }
    }.toArray
  }

  /** One partition per parquet file of segment `seg`, carrying the
    * per-file constants (`_commit_version`, the implied `_change_type`,
    * the `_segment` name) and, for a vectored segment, its deletion
    * vector's files — listed here, read on the executor. */
  def filesOf(spark: SparkSession, root: String, seg: String,
      version: Long, implied: Option[String] = None,
      dvDir: Option[String] = None): Seq[LogStreamPartition] = {
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def parquet(dir: String) = fs.listStatus(new Path(s"$root/$dir"))
      .filter(_.getPath.getName.endsWith(".parquet")).toSeq
      .map(f => (f.getPath.toString, f.getLen))
    val dvFiles = dvDir.toSeq.flatMap(parquet)
    parquet(seg).map { case (file, len) =>
      LogStreamPartition(file, len, version, implied, seg, dvFiles)
    }
  }

  /** The executor reader for a scan of `schema`: data columns read by
    * their PHYSICAL names (column mapping — rows come back by
    * position), absent columns null (schema evolution), narrow bytes
    * up-cast by Spark's parquet widening; the per-file constants ride
    * as partition values, deletion-vector positions as the reader's
    * row index. Each reader costs a broadcast of the Hadoop conf, so
    * the vector reader is built only for scans that may meet a
    * `vectored` partition. */
  def readerFactory(spark: SparkSession, schema: StructType,
      vectored: Boolean): PartitionReaderFactory = {
    val fmt = new ParquetFileFormat
    def reader(fields: Seq[StructField], partition: StructType) =
      fmt.buildReaderWithPartitionValues(spark, StructType(fields),
        partition, StructType(fields), Nil,
        Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        spark.sessionState.newHadoopConf())
    // the `_segment` METADATA column (a real `_segment` data column
    // shadows it, Spark's conflict rule) and `_commit_version` are
    // partition values; `_change_type` is the implied one when the
    // file is a pure add, else the cdc file's own column
    def isSegment(f: StructField) =
      f.name == "_segment" && MetadataAttribute.isValid(f.metadata)
    val fileFields = schema.fields.toSeq
      .filterNot(f => f.name == "_commit_version" || isSegment(f))
    val read = reader(fileFields.map(f => StructField(
      LogStore.physicalName(f), f.dataType)) :+
      StructField(ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
        LongType),
      StructType(Seq(StructField("_commit_version", LongType),
        StructField("_implied_change_type", StringType),
        StructField("_segment", StringType))))
    val n = fileFields.length + 1
    val out = schema.fields.toSeq.map { f =>
      if (f.name == "_commit_version") BoundReference(n, LongType, false)
      else if (isSegment(f)) BoundReference(n + 2, StringType, false)
      else {
        val col = BoundReference(fileFields.indexOf(f), f.dataType, true)
        if (f.name != "_change_type") col
        else Coalesce(Seq(BoundReference(n + 1, StringType, true), col))
      }
    }
    new LogSegmentReaderFactory(read, Option.when(vectored)(
      reader(LogStore.dvSchema.fields.toSeq, new StructType())), out, n - 1)
  }
}

/** One version-interval offset: the newest version ABSORBED so far
  * (-1 = nothing yet). */
final case class LogStreamOffset(version: Long) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

final class LogMicroBatchStream(schema: StructType, root: String,
    startingVersion: Option[String], maxVersionsPerTrigger: Option[Long])
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private def spark = SparkSession.active
  private def store = new LogStore(spark, root)

  // Trigger.AvailableNow: pin the end of history at prepare time so
  // the run drains THESE versions (in read-limit-sized batches via
  // the admission-control cap) and then terminates
  @volatile private var availableNowEnd: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(store.latestVersion())

  override def initialOffset(): Offset = {
    val from = startingVersion match {
      case Some("latest") => store.latestVersion() + 1
      case Some(v) => v.toLong
      case None => 0L
    }
    require(from >= 0, s"bad startingVersion $from")
    LogStreamOffset(from - 1)
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[LogStreamOffset].version
    val latest0 = store.latestVersion()
    val latest = availableNowEnd
      .map(math.min(latest0, _)).getOrElse(latest0)
    val capped = maxVersionsPerTrigger
      .map(m => math.min(latest, from + m)).getOrElse(latest)
    LogStreamOffset(math.max(capped, from))
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-control latestOffset is used")

  override def deserializeOffset(json: String): Offset = {
    val m = "\"version\"\\s*:\\s*(-?\\d+)".r.findFirstMatchIn(json)
      .getOrElse(throw new IllegalArgumentException(
        s"bad graft-log offset: $json"))
    LogStreamOffset(m.group(1).toLong)
  }

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] =
    LogStreamPlanning.partitionsFor(spark, store, root,
      start.asInstanceOf[LogStreamOffset].version + 1,
      end.asInstanceOf[LogStreamOffset].version)

  override def createReaderFactory(): PartitionReaderFactory =
    LogStreamPlanning.readerFactory(spark, schema, vectored = false)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class LogStreamPartition(file: String, length: Long,
    version: Long, implied: Option[String], segment: String,
    dvFiles: Seq[(String, Long)]) extends InputPartition

/** Executor side of [[LogStreamPlanning.readerFactory]]: one parquet
  * file through Spark's reader, minus the rows its deletion vector
  * names, projected to the scan's columns. Vector positions match the
  * reader's file-global row index, which equals the write path's
  * `_metadata.row_index` because segment files are immutable. */
final class LogSegmentReaderFactory(
    read: PartitionedFile => Iterator[InternalRow],
    readDv: Option[PartitionedFile => Iterator[InternalRow]],
    out: Seq[Expression], rowIndex: Int) extends PartitionReaderFactory {
  private def file(path: String, length: Long, values: InternalRow) =
    PartitionedFile(values, SparkPath.fromPath(new Path(path)), 0L,
      length, Array.empty, 0L, length)

  private def close(rows: Iterator[InternalRow]): Unit = rows match {
    case c: java.io.Closeable => c.close()
    case _ => ()
  }

  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[LogStreamPartition]
    val fileName = UTF8String.fromString(new Path(p.file).getName)
    val deleted = new java.util.HashSet[java.lang.Long]()
    p.dvFiles.foreach { case (f, len) =>
      val rows = readDv.getOrElse(throw new IllegalStateException(
        s"${p.file} has a deletion vector but its scan planned none"))(
        file(f, len, InternalRow.empty))
      try rows.foreach { r =>
        if (r.getUTF8String(0) == fileName) deleted.add(r.getLong(1))
      } finally close(rows)
    }
    val rows = read(file(p.file, p.length, new GenericInternalRow(
      Array[Any](p.version, p.implied.map(UTF8String.fromString).orNull,
        UTF8String.fromString(p.segment)))))
    val project = UnsafeProjection.create(out)
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = {
        while (rows.hasNext) {
          val r = rows.next()
          if (deleted.isEmpty || !deleted.contains(r.getLong(rowIndex))) {
            current = project(r)
            return true
          }
        }
        false
      }
      override def get(): InternalRow = current
      override def close(): Unit = LogSegmentReaderFactory.this.close(rows)
    }
  }
}

/** SNAPSHOT reads through the connector —
  * `spark.read.format("graft-log").option("mode", "snapshot")` — the
  * other half of the DSv2 surface: the table's LIVE rows (not the
  * feed), with
  *
  *  - **filter pushdown mapped to segment skipping**
  *    ([[SupportsPushDownFilters]]): comparison/equality/IN predicates
  *    on the table's RECORDED stats columns prune whole segments by
  *    their logged min/max BEFORE any parquet footer opens, and
  *    equality on the recorded Bloom column prunes by the segment
  *    Bloom filters — the `readRangeAll`/`pointLookup` economics,
  *    delivered through plain `df.where(...)` with the predicates
  *    visible as PushedFilters in `.explain`. Every pushed filter is
  *    ALSO kept as a residual (Spark re-applies it row-level), so
  *    pruning is strictly an optimization — the result set is exactly
  *    the full scan's.
  *  - **time travel**: `versionAsOf` (a commit version) or
  *    `timestampAsOf` (epoch millis, resolved via the in-log commit
  *    stamps) pin the snapshot; vacuumed versions refuse loudly.
  *  - **configuration from the log**: which columns carry stats / a
  *    Bloom filter is read from the table's recorded `props` action
  *    ([[graft.catalog.LogStore.configured]]) — the reader needs only
  *    the path.
  *
  * Column pruning and the executor-side readers are shared with the
  * feed path. */
final class LogSnapshotScanBuilder(schema: StructType, root: String,
    versionAsOf: Option[Long], timestampAsOf: Option[Long])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates {
  private var required: StructType = schema
  private var pushed: Array[Filter] = Array.empty
  private var statsAnswer: Option[(StructType, Array[Any])] = None
  private lazy val store =
    LogStore.configured(SparkSession.active, root)

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(LogSnapshotPruning.isPrunable(store, _))
    filters // ALL filters stay residual: pruning is segment-level only
  }

  override def pushedFilters(): Array[Filter] = pushed

  // ---- aggregate pushdown: COUNT(*)/MIN/MAX answered FROM THE LOG,
  // O(segments), zero data scanned. Spark only offers the aggregation
  // when every filter was fully pushed — and this source keeps all
  // filters residual — so the offer arrives exactly for the bare
  // global-aggregate shape the log can answer. Unanswerable pieces
  // (grouping, Count(col) — null counts are not recorded, a legacy
  // segment without row counts, a column missing bounds on any
  // segment, a non-orderable stats type) refuse, and Spark plans the
  // ordinary scan+aggregate instead — pushdown is strictly an
  // optimization.
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    LogStatsAggregate.answer(store, snapshotVersion, agg, schema)
      .nonEmpty

  override def pushAggregation(agg: Aggregation): Boolean = {
    statsAnswer =
      LogStatsAggregate.answer(store, snapshotVersion, agg, schema)
    statsAnswer.nonEmpty
  }

  private def snapshotVersion: Long = {
    require(versionAsOf.isEmpty || timestampAsOf.isEmpty,
      "versionAsOf and timestampAsOf are mutually exclusive")
    versionAsOf.getOrElse(
      timestampAsOf.map(store.versionAsOf).getOrElse(Long.MaxValue))
  }

  override def build(): Scan = statsAnswer match {
    case Some((aggSchema, row)) =>
      new LogStatsAggScan(root, aggSchema, row)
    case None => new LogSnapshotScan(required, root,
      versionAsOf, timestampAsOf, pushed)
  }
}

/** The log-answered aggregate: one scan, one partition, ONE row —
  * the values were already resolved from segment metadata at
  * planning time. */
final class LogStatsAggScan(root: String, aggSchema: StructType,
    row: Array[Any]) extends Scan with Batch {
  override def readSchema(): StructType = aggSchema
  override def description(): String =
    s"GraftLogStatsAggregate($root) answered from segment metadata"
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(LogStatsAggPartition(row))
  override def createReaderFactory(): PartitionReaderFactory =
    new LogStatsAggReaderFactory
}

final case class LogStatsAggPartition(row: Array[Any])
  extends InputPartition

final class LogStatsAggReaderFactory extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var served = false
      private val values =
        partition.asInstanceOf[LogStatsAggPartition].row
      override def next(): Boolean = !served
      override def get(): InternalRow = {
        served = true
        new GenericInternalRow(values.clone())
      }
      override def close(): Unit = ()
    }
}

private[sources] object LogStatsAggregate {
  import graft.catalog.LogStore

  private def singleField(e: org.apache.spark.sql.connector
      .expressions.Expression): Option[String] = e match {
    case r: NamedReference if r.fieldNames.length == 1 =>
      Some(r.fieldNames()(0))
    case _ => None
  }

  /** The ordering key of a recorded bound — exact for every supported
    * stats type. None = not orderable here, refuse the push. */
  private def orderKey(s: String, dt: DataType): Option[BigDecimal] =
    try dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
          DoubleType | _: DecimalType => Some(BigDecimal(s))
      case DateType =>
        Some(BigDecimal(java.time.LocalDate.parse(s).toEpochDay))
      case _ => None
    } catch { case _: Exception => None } // NaN/Infinity/garbage

  /** The bound back as Spark's INTERNAL value for `dt`. */
  private def internal(s: String, dt: DataType): Any = dt match {
    case ByteType => s.toByte
    case ShortType => s.toShort
    case IntegerType => s.toInt
    case LongType => s.toLong
    case FloatType => s.toFloat
    case DoubleType => s.toDouble
    case d: DecimalType =>
      org.apache.spark.sql.types.Decimal(BigDecimal(s), d.precision,
        d.scale)
    case DateType =>
      java.time.LocalDate.parse(s).toEpochDay.toInt
    case other => throw new IllegalArgumentException(s"$other")
  }

  /** Try to answer the whole aggregation from the snapshot's segment
    * metadata: (output schema, the single result row) — or None. */
  def answer(store: LogStore, version: Long, agg: Aggregation,
      tableSchema: StructType): Option[(StructType, Array[Any])] = {
    if (agg.groupByExpressions.nonEmpty) return None
    val segs =
      try store.liveSegmentInfos(version)
      catch { case _: Exception => return None }
    val fields = Array.newBuilder[StructField]
    val values = Array.newBuilder[Any]
    agg.aggregateExpressions.zipWithIndex.foreach { case (f, i) =>
      f match {
        case _: CountStar =>
          if (!segs.forall(_.rows.nonEmpty)) return None // legacy segs
          fields += StructField(s"agg_$i", LongType, nullable = false)
          // deletion vectors subtract exactly (positions are
          // distinct), so COUNT(*) stays log-answerable on dv tables
          values += segs.map(_.liveRows.get).sum
        case m: Min =>
          // a deletion vector may have removed the recorded extremum
          if (segs.exists(_.dv.nonEmpty)) return None
          val c = singleField(m.column).getOrElse(return None)
          val dt = tableSchema.find(_.name == c)
            .getOrElse(return None).dataType
          val bounds = segs.map(_.boundsOf(c))
          if (bounds.exists(_.isEmpty)) return None // unknowable seg
          val keyed = bounds.flatten.map { case (lo, _, _) =>
            (orderKey(lo, dt).getOrElse(return None), lo)
          }
          fields += StructField(s"agg_$i", dt, nullable = true)
          values += (if (keyed.isEmpty) null
                     else internal(keyed.minBy(_._1)._2, dt))
        case m: Max =>
          if (segs.exists(_.dv.nonEmpty)) return None
          val c = singleField(m.column).getOrElse(return None)
          val dt = tableSchema.find(_.name == c)
            .getOrElse(return None).dataType
          val bounds = segs.map(_.boundsOf(c))
          if (bounds.exists(_.isEmpty)) return None
          val keyed = bounds.flatten.map { case (_, hi, _) =>
            (orderKey(hi, dt).getOrElse(return None), hi)
          }
          fields += StructField(s"agg_$i", dt, nullable = true)
          values += (if (keyed.isEmpty) null
                     else internal(keyed.maxBy(_._1)._2, dt))
        case _ => return None // AVG/SUM/Count(col): not answerable
      }
    }
    Some((StructType(fields.result()), values.result()))
  }
}

final class LogSnapshotScan(schema: StructType, root: String,
    versionAsOf: Option[Long], timestampAsOf: Option[Long],
    filters: Array[Filter]) extends Scan {
  override def readSchema(): StructType = schema
  override def description(): String =
    s"GraftLogSnapshot($root) PushedFilters: " +
      filters.mkString("[", ", ", "]")
  override def toBatch: Batch =
    new LogSnapshotBatch(schema, root, versionAsOf, timestampAsOf,
      filters)
  // `spark.readStream.table("cat.ns.t")`: INITIAL SNAPSHOT + append-
  // only TAIL (the Delta table-stream semantics) — the first micro
  // batch is the live rows at stream start, later batches are the
  // appends, exactly-once by version offsets. Rewrite commits refuse
  // loudly: the table's schema has no _change_type column to make a
  // delete distinguishable — the full feed lives on `t$changes`.
  override def toMicroBatchStream(
      checkpointLocation: String): MicroBatchStream = {
    require(versionAsOf.isEmpty && timestampAsOf.isEmpty,
      "cannot STREAM a time-travel snapshot")
    new LogTableStream(root, schema)
  }
}

/** The snapshot-then-tail micro-batch stream behind
  * `readStream.table`: offset -2 = "snapshot pending"; the first
  * planned range (-2, V] is the live segment set at V as implied
  * inserts, every later (a, b] is the append tail. dataChange=false
  * rewrites (compact/optimize/fence/vacuum horizon) contribute
  * nothing; a DATA-changing rewrite (delete/merge/restore — any cdc
  * commit) refuses loudly — an append-mode consumer of the bare table
  * cannot represent it. */
final class LogTableStream(root: String, schema: StructType)
    extends MicroBatchStream {
  private def spark = SparkSession.active
  private def store = new LogStore(spark, root)

  override def initialOffset(): Offset = LogStreamOffset(-2L)

  override def latestOffset(): Offset =
    LogStreamOffset(math.max(store.latestVersion(),
      -1L)) // an empty table stays pre-snapshot at -1

  override def deserializeOffset(json: String): Offset = {
    val m = "\"version\"\\s*:\\s*(-?\\d+)".r.findFirstMatchIn(json)
      .getOrElse(throw new IllegalArgumentException(
        s"bad graft-log offset: $json"))
    LogStreamOffset(m.group(1).toLong)
  }

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[LogStreamOffset].version
    val to = end.asInstanceOf[LogStreamOffset].version
    if (to < 0) return Array.empty
    val st = store
    if (from <= -2L) {
      // the initial snapshot: the live set at `to`, whole (deletion
      // vectors reconciled — the snapshot is the LIVE rows)
      st.liveSegmentInfos(to).flatMap(s => LogStreamPlanning.filesOf(
        spark, root, s.name, to, dvDir = s.dv.map(_._1))).toArray
    } else {
      val horizon = st.currentVacuumHorizon()
      if (from + 1 < horizon)
        throw new IllegalStateException(
          s"versions [${from + 1}, ${horizon - 1}] were vacuumed " +
            s"(horizon $horizon): restart the stream to resync from " +
            "a fresh snapshot")
      (from + 1 to to).flatMap { v =>
        val (adds, removes, cdcs) = st.commitShape(v)
        if (cdcs.nonEmpty)
          throw new IllegalStateException(
            s"version $v changed existing rows (delete/merge/" +
              "restore): a bare-table stream is append-only — " +
              "stream the `t$changes` metadata table for the full " +
              "change feed")
        else if (removes.nonEmpty) Nil // dataChange=false rewrite
        else adds.flatMap(LogStreamPlanning.filesOf(spark, root, _, v))
      }.toArray
    }
  }

  // the initial snapshot may carry vectors; the factory cannot tell
  // which range it serves
  override def createReaderFactory(): PartitionReaderFactory =
    LogStreamPlanning.readerFactory(spark, schema, vectored = true)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final class LogSnapshotBatch(schema: StructType, root: String,
    versionAsOf: Option[Long], timestampAsOf: Option[Long],
    filters: Array[Filter]) extends Batch {
  // planned once, so the reader factory knows whether any file of
  // the scan carries a vector
  private lazy val partitions: Array[LogStreamPartition] = {
    val spark = SparkSession.active
    val store = LogStore.configured(spark, root)
    require(versionAsOf.isEmpty || timestampAsOf.isEmpty,
      "versionAsOf and timestampAsOf are mutually exclusive")
    val version = versionAsOf.getOrElse(
      timestampAsOf.map(store.versionAsOf).getOrElse(Long.MaxValue))
    val (segs, _) =
      LogSnapshotPruning.selectSegments(store, version, filters)
    segs.flatMap(seg => LogStreamPlanning.filesOf(spark, root, seg.name,
      -1L, dvDir = seg.dv.map(_._1))).toArray
  }
  override def planInputPartitions(): Array[InputPartition] =
    partitions.toArray
  override def createReaderFactory(): PartitionReaderFactory =
    LogStreamPlanning.readerFactory(SparkSession.active, schema,
      vectored = partitions.exists(_.dvFiles.nonEmpty))
}

/** The segment-pruning kernel of the snapshot path: which live
  * segments can a pushed filter set NOT rule out. Sound by
  * construction — every decision funnels through the store's own
  * `mayOverlapOn`/`mayHaveAtLeast`/`mayHaveAtMost`/`mayContain`, whose
  * no-stats default is "must scan"; literals that cannot be converted
  * to the logged string form LOSSLESSLY never prune (integers, longs,
  * decimals, dates are exact; float/double compare numerically via
  * BigDecimal; strings prune only the Bloom column, where the probe is
  * the same cast-to-string the filter build used; timestamps never
  * prune — their string form is format-sensitive). */
private[sources] object LogSnapshotPruning {
  import graft.catalog.LogStore

  /** Literal → the logged stats string form, when the conversion is
    * exact; None = never prune on this literal. Plain strings
    * participate when their spelling passes the SAME gate the write
    * side applied to the logged bounds ([[LogStore.safeStringBound]]):
    * safe-ASCII both sides keeps the lexicographic skipping compare
    * consistent with the UTF-8 binary collation that computed the
    * min/max; segments whose values were unsafe recorded no bounds
    * and always scan. */
  private def statsStr(v: Any): Option[String] = v match {
    case null => None
    case _: java.lang.Integer | _: java.lang.Long |
        _: java.lang.Short | _: java.lang.Byte |
        _: java.lang.Float | _: java.lang.Double |
        _: java.math.BigDecimal => Some(v.toString)
    case d: BigDecimal => Some(d.toString)
    case d: java.sql.Date => Some(d.toString)
    case d: java.time.LocalDate => Some(d.toString)
    case s: String if LogStore.safeStringBound(s) => Some(s)
    case u: UTF8String =>
      Some(u.toString).filter(LogStore.safeStringBound)
    case _ => None
  }

  /** Literal → the Bloom probe string: must equal Spark's
    * cast-to-string of the column value EXACTLY (a mismatched probe
    * would skip a segment that holds the key), so only types whose
    * toString provably matches qualify. */
  private def bloomStr(v: Any): Option[String] = v match {
    case s: String => Some(s)
    case u: UTF8String => Some(u.toString)
    case _: java.lang.Integer | _: java.lang.Long |
        _: java.lang.Short | _: java.lang.Byte => Some(v.toString)
    case d: java.sql.Date => Some(d.toString)
    case d: java.time.LocalDate => Some(d.toString)
    case _ => None
  }

  private def isStats(store: LogStore, c: String): Boolean =
    store.configuredStatsColumns.contains(c)
  private def isBloom(store: LogStore, c: String): Boolean =
    store.configuredBloomColumns.contains(c)

  /** Can this filter shape contribute ANY pruning on this table's
    * recorded columns? (What `pushedFilters` reports.) */
  def isPrunable(store: LogStore, f: Filter): Boolean = f match {
    case EqualTo(c, v) =>
      (isStats(store, c) && statsStr(v).nonEmpty) ||
        (isBloom(store, c) && bloomStr(v).nonEmpty)
    case EqualNullSafe(c, v) => v != null && isPrunable(store,
      EqualTo(c, v))
    case GreaterThan(c, v) => isStats(store, c) && statsStr(v).nonEmpty
    case GreaterThanOrEqual(c, v) =>
      isStats(store, c) && statsStr(v).nonEmpty
    case LessThan(c, v) => isStats(store, c) && statsStr(v).nonEmpty
    case LessThanOrEqual(c, v) =>
      isStats(store, c) && statsStr(v).nonEmpty
    case In(c, vs) => vs.nonEmpty &&
      vs.forall(v => isPrunable(store, EqualTo(c, v)))
    case And(l, r) => isPrunable(store, l) || isPrunable(store, r)
    case Or(l, r) => isPrunable(store, l) && isPrunable(store, r)
    case _ => false
  }

  /** Could segment `seg` contain a row matching `f`? Conservative in
    * every uncertain direction. */
  private def mayMatch(store: LogStore, seg: LogStore#Segment,
      f: Filter): Boolean = f match {
    case EqualTo(c, v) =>
      statsStr(v).forall(s => seg.mayOverlapOn(c, s, s)) &&
        (!isBloom(store, c) || bloomStr(v).forall(k =>
          seg.mayContainOn(c, store.bloomPositions(k))))
    case EqualNullSafe(c, v) if v != null =>
      mayMatch(store, seg, EqualTo(c, v))
    case GreaterThan(c, v) =>
      statsStr(v).forall(seg.mayHaveAtLeast(c, _))
    case GreaterThanOrEqual(c, v) =>
      statsStr(v).forall(seg.mayHaveAtLeast(c, _))
    case LessThan(c, v) =>
      statsStr(v).forall(seg.mayHaveAtMost(c, _))
    case LessThanOrEqual(c, v) =>
      statsStr(v).forall(seg.mayHaveAtMost(c, _))
    case In(c, vs) =>
      vs.isEmpty || vs.exists(v => mayMatch(store, seg, EqualTo(c, v)))
    case And(l, r) =>
      mayMatch(store, seg, l) && mayMatch(store, seg, r)
    case Or(l, r) =>
      mayMatch(store, seg, l) || mayMatch(store, seg, r)
    case _ => true
  }

  /** True iff `f` could consult a Bloom filter — the signal for
    * fetching a sharded checkpoint's Bloom SIDECARS. Stats-only
    * shapes resolve without ever reading the hexes (~90% of a wide
    * checkpoint's bytes). */
  private def consultsBloom(store: LogStore, f: Filter): Boolean =
    f match {
      case EqualTo(c, v) => isBloom(store, c) && bloomStr(v).nonEmpty
      case EqualNullSafe(c, v) => v != null &&
        consultsBloom(store, EqualTo(c, v))
      case In(c, vs) =>
        vs.exists(v => consultsBloom(store, EqualTo(c, v)))
      case And(l, r) =>
        consultsBloom(store, l) || consultsBloom(store, r)
      case Or(l, r) =>
        consultsBloom(store, l) || consultsBloom(store, r)
      case _ => false
    }

  /** (surviving segments, live segment count) at `version`. Bloom
    * sidecars are fetched ONLY when a Bloom-eligible predicate is
    * present — every other shape stays a stats-only resolution. */
  def selectSegments(store: LogStore, version: Long,
      filters: Array[Filter]): (Seq[LogStore#Segment], Int) = {
    val live = store.liveSegmentInfos(version,
      blooms = filters.exists(consultsBloom(store, _)))
    val keep = live.filter(seg =>
      filters.forall(f => mayMatch(store, seg, f)))
    (keep, live.size)
  }
}
