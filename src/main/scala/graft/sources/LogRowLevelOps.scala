package graft.sources

import java.util.UUID

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.MetadataColumn
import org.apache.spark.sql.connector.expressions.{Expressions, Literal, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.types._

import graft.catalog.LogStore

/** SQL `UPDATE` / `MERGE INTO` / general `DELETE` on graft-log tables
  * — the DSv2 GROUP-BASED row-level operation path
  * ([[org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations]]),
  * riding the same copy-on-write, stats-pruned economics as the
  * programmatic [[graft.catalog.LogStore.mergeKeyed]]:
  *
  *  - **The group is the segment.** Spark's rewrite
  *    (`RewriteUpdateTable` / `RewriteMergeIntoTable`) reads whole
  *    groups through this operation's scan, recomputes their contents
  *    (carried-over + updated + inserted rows — ALL expression
  *    semantics are Spark's, this connector never evaluates an
  *    assignment), and writes them back; the commit replaces exactly
  *    the scanned segments in one version
  *    ([[graft.catalog.LogStore.publishReplace]]).
  *  - **Runtime group filtering keeps it ∝ matching bytes**: the scan
  *    implements [[SupportsRuntimeV2Filtering]] on the `_segment`
  *    metadata column, so Spark first runs a matching-groups subquery
  *    (`SELECT DISTINCT _segment WHERE <cond>` — itself stats-pruned
  *    through the snapshot scan's pushdown) and narrows the rewrite
  *    to segments that actually hold matches. A 10-row UPDATE on a
  *    clustered 100 TB table rewrites the overlapping segments, not
  *    the table.
  *  - **Read-modify-write concurrency**: the scan pins the version it
  *    read; the commit lands at readVersion+1 or throws — a racing
  *    writer is never silently overwritten.
  *  - **The change feed stays truthful** via publishReplace's minimal
  *    multiset diff (delete(old)+insert(new) per changed row), which
  *    keyed mirrors net to the upsert.
  *
  * Plain `DELETE FROM` keeps its existing fast paths: Spark's
  * `OptimizeMetadataOnlyDeleteFromTable` converts eligible deletes
  * back to the [[LogStreamTable.deleteWhere]] metadata path
  * (stats-pruned `deleteRange` / predicate copy-on-write); only
  * conditions that path cannot express fall through to this one. */
final class GraftRowLevelOperationBuilder(root: String,
    info: RowLevelOperationInfo) extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new GraftRowLevelOperation(root, info.command)
}

final class GraftRowLevelOperation(root: String, cmd: Command)
    extends RowLevelOperation {
  // the scan/write coordination point: Spark builds the scan and the
  // write from the SAME operation instance (both driver-side), so the
  // write's commit reads the scan's final — post-runtime-filter —
  // segment selection and pinned version
  @volatile private[sources] var scanRef: GraftRowLevelScan = _

  override def command(): Command = cmd
  override def description(): String = s"GraftRowLevel($cmd, $root)"

  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : ScanBuilder = new GraftRowLevelScanBuilder(root, this)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = {
        val schema = info.schema()
        schema.fields.foreach { f =>
          require(LogParquetWrite.writable(f.dataType),
            s"graft-log stores flat columns; '${f.name}' is " +
              s"${f.dataType}")
        }
        new GraftReplaceWrite(root, schema,
          GraftRowLevelOperation.this)
      }
    }

  // the rewrite must read `_segment` through the row-level scan: it
  // is the grouping attribute the runtime group filter resolves
  // against (the write-side projections strip it back out — metadata
  // never lands in the table)
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column("_segment"))
}

final class GraftRowLevelScanBuilder(root: String,
    op: GraftRowLevelOperation) extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  private var required: StructType = _
  private var pushed: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** The DML condition's table-only conjuncts, pushed by Spark's
    * GroupBasedRowLevelOperationScanPlanning rule. ALL of them are
    * returned as residuals — a group scan returns WHOLE groups, so
    * nothing may be filtered row-wise here; the conjuncts are used
    * for (a) static stats pruning of the group selection and (b) the
    * commit's range-bounded conflict re-validation. */
  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    pushed = filters
    filters
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    pushed

  /** Per-stats-column [lo, hi] bounds implied by the pushed
    * conjuncts — NUMERIC and plain-STRING values (their spellings
    * compare consistently with the logged bounds: numerics as
    * BigDecimal, safe-ASCII strings lexicographically, exactly the
    * per-segment `num` flag's two compare modes; date/timestamp
    * spellings are NOT guaranteed to and stay conservative). Strict
    * comparisons widen to inclusive bounds — always safe. */
  private def impliedBounds(store: LogStore)
      : Seq[(String, Option[String], Option[String])] = {
    import org.apache.spark.sql.sources._
    val cols = store.configuredStatsColumns
    def num(v: Any): Option[BigDecimal] = v match {
      case n: Byte => Some(BigDecimal(n.toInt))
      case n: Short => Some(BigDecimal(n.toInt))
      case n: Int => Some(BigDecimal(n))
      case n: Long => Some(BigDecimal(n))
      // NaN/Infinity have no BigDecimal form (and NaN never equals or
      // orders anyway) — conservative: no bound derived
      // Float goes through its SHORTEST round-trip repr (0.1f →
      // "0.1"), the same spelling the log recorded for float stats;
      // BigDecimal(n.toDouble) would widen to the double's decimal
      // expansion ("0.10000000149011612") and compare inconsistently
      // with the logged bounds — false non-overlap → skipped rows.
      // Shortest reprs order like the floats themselves, so this is
      // both exact and order-consistent.
      case n: Float if !n.isNaN && !n.isInfinite =>
        Some(BigDecimal(n.toString))
      case n: Double if !n.isNaN && !n.isInfinite =>
        Some(BigDecimal(n))
      case n: java.math.BigDecimal => Some(BigDecimal(n))
      case _ => None
    }
    // a string literal participates only when its spelling passes the
    // same gate the WRITE side applied to the logged bounds — unsafe
    // spellings (non-ASCII, grammar delimiters) derive nothing, and a
    // segment whose values were unsafe recorded nothing: conservative
    // from both ends, mis-pruning from neither
    def str(v: Any): Option[String] = v match {
      case s: String if LogStore.safeStringBound(s) => Some(s)
      case u: org.apache.spark.unsafe.types.UTF8String =>
        Some(u.toString).filter(LogStore.safeStringBound)
      case _ => None
    }
    val lo = scala.collection.mutable.Map.empty[String, BigDecimal]
    val hi = scala.collection.mutable.Map.empty[String, BigDecimal]
    val slo = scala.collection.mutable.Map.empty[String, String]
    val shi = scala.collection.mutable.Map.empty[String, String]
    def tightenLo(c: String, v: BigDecimal): Unit =
      lo(c) = lo.get(c).map(_.max(v)).getOrElse(v)
    def tightenHi(c: String, v: BigDecimal): Unit =
      hi(c) = hi.get(c).map(_.min(v)).getOrElse(v)
    def tightenSLo(c: String, v: String): Unit =
      slo(c) = slo.get(c).filter(_ > v).getOrElse(v)
    def tightenSHi(c: String, v: String): Unit =
      shi(c) = shi.get(c).filter(_ < v).getOrElse(v)
    def bound(c: String, v: Any, isLo: Boolean, isHi: Boolean): Unit =
      num(v) match {
        case Some(d) =>
          if (isLo) tightenLo(c, d)
          if (isHi) tightenHi(c, d)
        case None => str(v).foreach { s =>
          if (isLo) tightenSLo(c, s)
          if (isHi) tightenSHi(c, s)
        }
      }
    pushed.foreach {
      case EqualTo(c, v) if cols.contains(c) =>
        bound(c, v, isLo = true, isHi = true)
      case GreaterThan(c, v) if cols.contains(c) =>
        bound(c, v, isLo = true, isHi = false)
      case GreaterThanOrEqual(c, v) if cols.contains(c) =>
        bound(c, v, isLo = true, isHi = false)
      case LessThan(c, v) if cols.contains(c) =>
        bound(c, v, isLo = false, isHi = true)
      case LessThanOrEqual(c, v) if cols.contains(c) =>
        bound(c, v, isLo = false, isHi = true)
      case In(c, vs) if cols.contains(c) && vs.nonEmpty =>
        val ds = vs.toSeq.map(num)
        val ss = vs.toSeq.map(str)
        if (ds.forall(_.nonEmpty)) {
          tightenLo(c, ds.flatten.min); tightenHi(c, ds.flatten.max)
        } else if (ss.forall(_.nonEmpty)) {
          tightenSLo(c, ss.flatten.min); tightenSHi(c, ss.flatten.max)
        }
      case _ => () // disjunctions, dates/timestamps: conservative
    }
    // a column is either numeric-bounded or string-bounded; the
    // impossible mixed case (one column, two literal types) derives
    // nothing rather than guessing which ordering applies
    cols.flatMap { c =>
      val numeric = lo.contains(c) || hi.contains(c)
      val strng = slo.contains(c) || shi.contains(c)
      if (numeric && !strng)
        Some((c, lo.get(c).map(_.toString), hi.get(c).map(_.toString)))
      else if (strng && !numeric) Some((c, slo.get(c), shi.get(c)))
      else None
    }
  }

  override def build(): Scan = {
    val store = LogStore.configured(SparkSession.active, root)
    val schema = Option(required).getOrElse(
      LogStreamSource.snapshotSchema(root))
    val bounds = impliedBounds(store)
    // the fully-bounded column (primary stats column first) becomes
    // the commit's conflict-check range: concurrent appends outside
    // it cannot hold rows this DML's selection should have seen
    val range = bounds.collectFirst {
      case (c, Some(l), Some(h)) => (c, l, h)
    }
    val scan = new GraftRowLevelScan(root, store, schema, bounds, range)
    op.scanRef = scan
    scan
  }
}

/** The group scan: all live segments of the pinned version, narrowed
  * STATICALLY by the pushed condition's stats bounds (segments whose
  * logged min/max cannot hold a match are never groups) and at
  * runtime by the `_segment IN (...)` predicate Spark derives from
  * the matching-groups subquery. One partition per parquet file —
  * executor parallelism scales with the selected data. `predRange`
  * is the condition's closed bound on a stats column, handed to the
  * commit so DISJOINT concurrent writers re-validate past each other
  * instead of conflicting on any add. */
final class GraftRowLevelScan(root: String, store: LogStore,
    schema: StructType,
    bounds: Seq[(String, Option[String], Option[String])] = Nil,
    private[sources] val predRange: Option[(String, String, String)] =
      None) extends Scan with Batch
    with SupportsRuntimeV2Filtering {

  private[sources] val readVersion: Long = store.latestVersion()
  @volatile private[sources] var selectedInfos: Seq[LogStore#Segment] =
    if (readVersion < 0) Nil
    else store.liveSegmentInfos(readVersion).filter(s =>
      bounds.forall {
        case (c, Some(lo), Some(hi)) => s.mayOverlapOn(c, lo, hi)
        case (c, Some(lo), None) => s.mayHaveAtLeast(c, lo)
        case (c, None, Some(hi)) => s.mayHaveAtMost(c, hi)
        case _ => true
      })
  private[sources] def selected: Seq[String] = selectedInfos.map(_.name)

  /** The STATIC (bounds-pruned, pre-runtime-filter) selection at the
    * pinned version — the no-op commit path's read set: the runtime
    * `_segment IN (...)` narrowing is derived from a separately-
    * planned subquery scan, so only the static set is a faithful
    * record of which segments this DML's conclusion depended on. */
  private[sources] val staticSelection: Set[String] =
    selectedInfos.map(_.name).toSet
  private val staticVectored = selectedInfos.exists(_.dv.nonEmpty)

  override def readSchema(): StructType = schema
  override def description(): String =
    s"GraftRowLevelScan($root) segments=${selected.size}"
  override def toBatch: Batch = this

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column("_segment"))

  override def filter(predicates: Array[Predicate]): Unit =
    predicates.foreach { p =>
      GraftSegmentPredicate.inValues(p).foreach { vals =>
        selectedInfos = selectedInfos.filter(s => vals.contains(s.name))
      }
    }

  override def planInputPartitions(): Array[InputPartition] =
    selectedInfos.flatMap(seg => LogStreamPlanning.filesOf(
      SparkSession.active, root, seg.name, -1L,
      dvDir = seg.dv.map(_._1))).toArray

  // runtime filtering only narrows the selection, so the static one
  // decides whether the factory needs the vector reader
  override def createReaderFactory(): PartitionReaderFactory =
    LogStreamPlanning.readerFactory(SparkSession.active, schema,
      vectored = staticVectored)
}

/** The `_segment IN (...)` / `_segment = ...` runtime predicates the
  * group-filtering rule hands the scan, decoded conservatively: any
  * shape not provably about `_segment` is ignored (the scan then
  * rewrites more than strictly needed — correct, never wrong). */
private[sources] object GraftSegmentPredicate {
  private def isSegmentRef(e: org.apache.spark.sql.connector
      .expressions.Expression): Boolean = e match {
    case r: NamedReference => r.fieldNames.sameElements(Array("_segment"))
    case _ => false
  }

  def inValues(p: Predicate): Option[Set[String]] = p.name() match {
    case "IN" =>
      val ch = p.children()
      if (ch.isEmpty || !isSegmentRef(ch.head)) None
      else {
        val lits = ch.tail.collect { case l: Literal[_] => l }
        if (lits.length != ch.length - 1) None
        else Some(lits.map(l => String.valueOf(l.value)).toSet)
      }
    case "=" => p.children() match {
      case Array(r, l: Literal[_]) if isSegmentRef(r) =>
        Some(Set(String.valueOf(l.value)))
      case Array(l: Literal[_], r) if isSegmentRef(r) =>
        Some(Set(String.valueOf(l.value)))
      case _ => None
    }
    case _ => None
  }
}

/** The replace write: executors stage parquet files (the same
  * [[LogDataWriterFactory]] as the append sink), the driver's commit
  * renames them into one fresh segment and publishes it as a
  * copy-on-write replacement of the scan's final segment selection —
  * via [[graft.catalog.LogStore.publishReplace]], which owns schema
  * enforcement, stats/bloom metadata, the truthful cdc diff, and the
  * readVersion+1 concurrency check. */
final class GraftReplaceWrite(root: String, schema: StructType,
    op: GraftRowLevelOperation) extends Write {
  override def description(): String = s"GraftReplaceWrite($root)"
  override def toBatch: BatchWrite =
    new GraftReplaceBatchWrite(root, schema, op)
}

final class GraftReplaceBatchWrite(root: String, schema: StructType,
    op: GraftRowLevelOperation) extends BatchWrite {
  private val stage = s"_stage-${UUID.randomUUID().toString.take(12)}"

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    LogDataWriterFactory(SparkSession.active, root, s"$root/$stage",
      schema)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val staged = LogWriteMessage.staged(messages)
    val scan = op.scanRef
    require(scan != null,
      "row-level write committed without its scan — not a ReplaceData plan")
    val removes = scan.selected
    if (staged.isEmpty && removes.isEmpty) {
      // nothing matched anywhere (e.g. UPDATE whose condition selects
      // no group): version unchanged, no junk commit — PROVIDED the
      // table really is unchanged in any way this DML could have
      // seen. The runtime group-filter subquery plans its own
      // snapshot scan, so a commit landing between the two plannings
      // (optimize replacing a matching segment) can prune the
      // IN-list ∩ selection to empty; treating that as a no-op would
      // silently drop the DML and bypass the OCC check. But failing
      // on ANY head movement is needlessly conservative — a fence, a
      // vacuum horizon, or an append provably outside the pushed
      // range cannot turn "no rows matched" into "rows matched", so
      // the no-op re-validates winners with the same disjointness
      // test commits use. Without a closed pushed range, any add
      // might hold a matching row (matchesAnyNewRow).
      LogSinkCommit.cleanup(spark, s"$root/$stage")
      val store = LogStore.configured(spark, root)
      val latest = store.latestVersion()
      if (latest != scan.readVersion) {
        val readSet = store.ReadSet(scan.staticSelection,
          scan.predRange, matchesAnyNewRow = scan.predRange.isEmpty)
        if (!store.winnersDisjoint(scan.readVersion, latest, readSet))
          throw new store.ConcurrentCommitException(latest)
      }
      return
    }
    // no staged file (every row of the groups deleted) adds nothing
    val store = LogStore.configured(spark, root)
    store.publishReplace(
      store.stageToSegments(staged, fileAsSegment = false), removes,
      schema, scan.readVersion, range = scan.predRange)
    LogSinkCommit.cleanup(spark, s"$root/$stage")
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    LogSinkCommit.cleanup(SparkSession.active, s"$root/$stage")
}

/** The `_segment` metadata column: which data segment directory holds
  * the row — the grouping attribute of the row-level operation path,
  * and a handy provenance probe
  * (`SELECT _segment, count(*) FROM t GROUP BY 1`). */
object GraftSegmentMetadataColumn extends MetadataColumn {
  override def name(): String = "_segment"
  override def dataType(): DataType = StringType
  override def isNullable: Boolean = false
  override def comment(): String =
    "name of the data segment directory holding the row"
}
