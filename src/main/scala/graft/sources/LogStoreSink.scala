package graft.sources

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._

import graft.catalog.LogStore

/** The `graft-log` WRITE path — `df.write.format("graft-log")
  * .option("path", root).mode("append").save()` and
  * `df.writeStream.format("graft-log")` — the sink half of the DSv2
  * connector, so a transactional table can be produced by ANY Spark
  * job (SQL inserts, streaming queries, other teams' pipelines)
  * without touching the programmatic API:
  *
  *  - **Executors write, the driver commits.** Each task streams its
  *    rows into its own parquet file under a staging directory
  *    (`_stage-*` — invisible: no commit references it); the driver's
  *    commit renames exactly the files named in the task COMMIT
  *    MESSAGES into a fresh `seg-*` directory and publishes it as one
  *    version via [[graft.catalog.LogStore.publishSegments]] — so a
  *    crashed/speculated task attempt's file (present on disk, absent
  *    from the messages) can never leak into the table. Crash-orphaned
  *    staging directories are reclaimed by vacuum's orphan path.
  *  - **The table's own contract is enforced at commit**: schema
  *    enforcement against the recorded metadata action (add columns =
  *    evolution, mutate a type = loud refusal), skipping stats + Bloom
  *    filters computed per the table's recorded `props` configuration
  *    — a connector write is indistinguishable from a programmatic
  *    append. The table advertises ACCEPT_ANY_SCHEMA so Spark defers
  *    schema checking to this gate (Spark's own by-name check would
  *    refuse the evolution the table is contractually obliged to
  *    accept).
  *  - **Streaming is exactly-once** by the same `txn` fence as
  *    `appendStream`: the epoch id rides the commit; a replayed epoch
  *    (restart from a stale — or deleted — Spark checkpoint) publishes
  *    nothing and its staged files are discarded. An empty epoch
  *    advances the fence with a txn-only commit (no junk segment).
  *
  * At 100 TB the shape is the point: N tasks write N files in
  * parallel (no driver data path), the commit is O(files) renames +
  * one O(segment) stats pass, and the optimistic-retry loop makes
  * concurrent writers safe. */
final class LogWriteBuilder(root: String, info: LogicalWriteInfo)
    extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  // INSERT OVERWRITE / df.write.mode("overwrite"): Spark signals a
  // full-table overwrite as truncate-then-append on ONE builder; the
  // sink turns it into ONE atomic publishReplace commit (new segments
  // in, every prior live segment out, honest minimal-diff feed, prior
  // snapshots time-travelable). Filter-scoped overwrites are not
  // offered (no SupportsOverwrite) — Spark refuses them loudly.
  private var overwrite = false
  override def truncate(): WriteBuilder = { overwrite = true; this }

  override def build(): Write = {
    val schema = info.schema()
    schema.fields.foreach { f =>
      require(LogParquetWrite.writable(f.dataType),
        s"graft-log stores flat columns; '${f.name}' is ${f.dataType}")
    }
    // auto-maintenance (write options): when `maintainMinBytes` is
    // set, each successful commit is followed by a maintainLayout
    // pass — a streaming ingest (one small segment per epoch) keeps
    // its segment count bounded forever, hands-off
    val opts = info.options()
    val maintain = Option(opts.get("maintainMinBytes")).map { mb =>
      MaintainOpts(mb.toLong,
        Option(opts.get("maintainSmallLimit")).map(_.toInt)
          .getOrElse(8),
        Option(opts.get("maintainMaxBytes")).map(_.toLong)
          .getOrElse(128L << 20))
    }
    // clustered ingest: `clusterBy=col[,col2]` asks Spark (via
    // RequiresDistributionAndOrdering) to RANGE-distribute and sort
    // the rows before they reach the writers, and the commit then
    // publishes each task file as ITS OWN segment — per-segment
    // bounds become tight disjoint ranges, so skipping reads prune
    // from the FIRST write, no post-hoc OPTIMIZE needed
    val clusterBy = Option(opts.get("clusterBy")).toSeq
      .flatMap(_.split(',').toSeq).map(_.trim).filter(_.nonEmpty)
    clusterBy.foreach(c => require(schema.fieldNames.contains(c),
      s"clusterBy column '$c' is not in the write schema"))
    val clusterParts =
      Option(opts.get("clusterPartitions")).map(_.toInt).getOrElse(0)
    new LogWrite(root, schema, maintain, clusterBy, clusterParts,
      overwrite)
  }
}

final case class MaintainOpts(minBytes: Long, smallLimit: Int,
    maxBytes: Long)

final class LogWrite(root: String, schema: StructType,
    maintain: Option[MaintainOpts], clusterBy: Seq[String] = Nil,
    clusterParts: Int = 0, overwrite: Boolean = false)
    extends Write with RequiresDistributionAndOrdering {
  override def description(): String = s"GraftLogWrite($root)"

  private def sortOrders: Array[SortOrder] = clusterBy.map(c =>
    Expressions.sort(Expressions.column(c), SortDirection.ASCENDING,
      NullOrdering.NULLS_FIRST)).toArray
  override def requiredDistribution(): Distribution =
    if (clusterBy.isEmpty) Distributions.unspecified()
    else Distributions.ordered(sortOrders)
  override def requiredOrdering(): Array[SortOrder] =
    if (clusterBy.isEmpty) Array.empty else sortOrders
  override def requiredNumPartitions(): Int = clusterParts

  override def toBatch: BatchWrite =
    new LogBatchWrite(root, schema, maintain, clusterBy.nonEmpty,
      overwrite)
  override def toStreaming: StreamingWrite = {
    // complete-mode streaming would overwrite per epoch; the keyed
    // upsert sink (StreamingOps.upsertAggToLog) is the supported
    // latest-state shape — refusing beats silently appending
    if (overwrite) throw new UnsupportedOperationException(
      "graft-log streaming writes are append-mode (epoch-fenced); " +
        "for a latest-state table use update mode with " +
        "StreamingOps.upsertAggToLog")
    new LogStreamingWrite(root, schema, maintain, clusterBy.nonEmpty)
  }
}

/** What one write task staged: its file (None when the task had no
  * rows and was not asked for an empty file) and the statistics of
  * that file, recorded by [[LogDataWriter]] as the rows went by:
  *  - `rows`: the row count;
  *  - `bounds`: per configured stats column (logical name), its least
  *    and greatest value as Catalyst values under Spark's ordering for
  *    the type — (null, null) when every value was NULL;
  *  - `blooms`: per configured Bloom column, the bit positions its
  *    non-NULL values set.
  * A column the write was not configured to record is absent. */
final case class LogWriteMessage(file: Option[String], rows: Long,
    bounds: Map[String, (Any, Any)], blooms: Map[String, java.util.BitSet])
  extends WriterCommitMessage

object LogWriteMessage {
  /** The messages of the tasks that staged a file. */
  def staged(messages: Array[WriterCommitMessage]): Seq[LogWriteMessage] =
    messages.toSeq.collect { case m: LogWriteMessage if m.file.nonEmpty => m }
}

/** The statistics every task of a segment write records: `bounds` as
  * (logical name, ordinal, type) of the stats columns in the write
  * schema; `blooms` as (logical name, the column's 4 Bloom positions
  * bound to the write schema's ordinals), each position in
  * [0, `bloomBits`). */
final case class SegmentStatsSpec(bounds: Seq[(String, Int, DataType)],
    blooms: Seq[(String, Seq[Expression])], bloomBits: Int)

/** One batch append: all task files → one `seg-*` directory → one
  * committed version. */
final class LogBatchWrite(root: String, schema: StructType,
    maintain: Option[MaintainOpts] = None,
    fileAsSegment: Boolean = false,
    overwrite: Boolean = false)
    extends BatchWrite {
  private val stage = s"_stage-${UUID.randomUUID().toString.take(12)}"

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    LogDataWriterFactory(SparkSession.active, root, s"$root/$stage", schema)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    if (overwrite)
      LogSinkCommit.publishOverwrite(root, s"$root/$stage", schema,
        messages, fileAsSegment = fileAsSegment)
    else LogSinkCommit.publish(root, s"$root/$stage", schema,
      messages, txn = None, maintain = maintain,
      fileAsSegment = fileAsSegment)

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    LogSinkCommit.cleanup(SparkSession.active, s"$root/$stage")
}

/** One streaming query: per EPOCH, its own staging directory (so an
  * in-flight epoch is never confused with an abandoned one), one
  * `seg-*` directory, one fenced commit. */
final class LogStreamingWrite(root: String, schema: StructType,
    maintain: Option[MaintainOpts] = None,
    fileAsSegment: Boolean = false)
    extends StreamingWrite {
  private val stagePrefix = s"$root/_stage-${
    UUID.randomUUID().toString.take(12)}"

  // the factory gets the bare prefix; each task APPENDS its epoch
  // (createWriter's epochId) so files land in the exact per-epoch
  // directory commit/abort operate on — epoch isolation is real, an
  // abort(epochId) removes precisely the files its epoch staged
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    LogDataWriterFactory(SparkSession.active, root, stagePrefix, schema)

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    LogSinkCommit.publish(root, s"$stagePrefix-e$epochId", schema,
      messages, txn = Some(epochId), maintain = maintain,
      fileAsSegment = fileAsSegment)

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    LogSinkCommit.cleanup(SparkSession.active, s"$stagePrefix-e$epochId")
}

private[sources] object LogSinkCommit {
  /** Driver-side publish: move exactly the message-named files from
    * `stageDir` into a fresh segment directory, commit it through the
    * table's own gate (schema enforcement, stats, Bloom, optimistic
    * retry, txn fence), then drop the staging directory — losers of a
    * speculative race and all. A fenced streaming replay (publish
    * returns -1) discards the staged segment instead. */
  def publish(root: String, stageDir: String, schema: StructType,
      messages: Array[WriterCommitMessage], txn: Option[Long],
      maintain: Option[MaintainOpts] = None,
      fileAsSegment: Boolean = false): Unit = {
    val spark = SparkSession.active
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val staged = LogWriteMessage.staged(messages)
    if (staged.isEmpty) {
      // nothing written: an EMPTY epoch still advances the stream
      // fence (txn-only commit, no junk segment); an empty batch
      // write of a not-yet-existing table is a no-op
      val store = LogStore.configured(spark, root)
      txn.foreach { id =>
        if (store.latestVersion() >= 0) store.commitFence(id)
      }
      cleanup(spark, stageDir)
      return
    }
    val store = LogStore.configured(spark, root)
    val segs = store.stageToSegments(staged, fileAsSegment)
    val v = store.publishSegments(segs, schema, txn = txn)
    if (v == -1L) // fenced replay: the epoch already landed
      segs.foreach(s => fs.delete(new Path(s"$root/${s._1}"), true))
    cleanup(spark, stageDir)
    // post-commit maintenance: below the threshold it is a commit-free
    // no-op; NOTHING here may fail the epoch that already landed —
    // a lost maintenance race (concurrent writer) just waits for the
    // next batch
    if (v != -1L) maintain.foreach { m =>
      try store.maintainLayout(m.minBytes, m.smallLimit, m.maxBytes)
      catch {
        case scala.util.control.NonFatal(e) => System.err.println(
          s"[graft-log] post-commit maintainLayout at $root skipped: $e")
      }
    }
  }

  /** INSERT OVERWRITE / mode("overwrite"): the staged files REPLACE
    * the table's entire live content in ONE commit
    * ([[graft.catalog.LogStore.publishReplace]] — readVersion+1 OCC,
    * schema enforcement, stats/Bloom metadata, honest minimal-diff
    * change feed; prior snapshots stay time-travelable at their
    * versions). An overwrite with ZERO rows is an atomic truncate;
    * one against an empty/nonexistent table degrades to the plain
    * first publish. */
  def publishOverwrite(root: String, stageDir: String,
      schema: StructType, messages: Array[WriterCommitMessage],
      fileAsSegment: Boolean = false): Unit = {
    val spark = SparkSession.active
    val staged = LogWriteMessage.staged(messages)
    val store = LogStore.configured(spark, root)
    val readVersion = store.latestVersion()
    val removes =
      if (readVersion < 0) Nil else store.liveSegments(readVersion)
    if (staged.isEmpty && removes.isEmpty) {
      cleanup(spark, stageDir) // overwriting nothing with nothing
      return
    }
    // zero staged files = atomic truncate: no segment directory is
    // created (an empty seg dir is unreadable and unreferenced)
    store.publishReplace(store.stageToSegments(staged, fileAsSegment),
      removes, schema, readVersion)
    cleanup(spark, stageDir)
  }

  def cleanup(spark: SparkSession, stageDir: String): Unit = {
    val fs = new Path(stageDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(stageDir), true)
  }
}

/** The one segment writer's factory: every `graft-log` connector
  * write and every engine segment write (`LogStore`'s appends, merges
  * and clustered rewrites) stages its files through it. Each task
  * writes one parquet file with Spark's [[OutputWriter]] and records
  * its statistics per `stats` ([[LogDataWriter]]). */
final class LogDataWriterFactory(stageDir: String, schema: StructType,
    writer: OutputWriterFactory, confEntries: Array[(String, String)],
    stats: SegmentStatsSpec)
    extends DataWriterFactory with StreamingDataWriterFactory {
  private def conf: Configuration = {
    val c = new Configuration(false)
    confEntries.foreach { case (k, v) => c.set(k, v) }
    c
  }
  private def writerAt(file: String): LogDataWriter =
    new LogDataWriter(file, schema, writer, conf, stats)
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    writerAt(s"$stageDir/part-$partitionId-$taskId.parquet")
  // the streaming form: stageDir is the QUERY prefix — the epoch id
  // completes it to the per-epoch staging directory the driver's
  // commit(epochId)/abort(epochId) operate on, so epochs never share
  // a staging dir and abort cleanup actually removes what was written
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    writerAt(s"$stageDir-e$epochId/part-$partitionId-$taskId.parquet")

  /** Run this writer over the rows of `df` — already in this factory's
    * schema, by position — in ONE Spark job: one task per partition,
    * each staging at most one file. Returns every task's message in
    * partition order. `firstAlways` keeps Spark's empty-write rule:
    * partition 0 lands a file even with no rows, so a zero-row write
    * still leaves a readable file of the schema. */
  def writeRows(df: DataFrame,
      firstAlways: Boolean = false): Seq[LogWriteMessage] =
    GraftSqlBridge.withExecution(df, s"graft segment write to $stageDir") {
      val sc = df.sparkSession.sparkContext
      val rdd = df.queryExecution.toRdd
      val tasks =
        if (rdd.partitions.nonEmpty) rdd
        else sc.parallelize(Seq.empty[InternalRow], 1)
      sc.runJob(tasks, (ctx: TaskContext, rows: Iterator[InternalRow]) => {
        val w = writerAt(
          s"$stageDir/part-${ctx.partitionId}-${ctx.taskAttemptId}.parquet")
        try {
          if (firstAlways && ctx.partitionId == 0) w.open()
          rows.foreach(w.write)
          w.commit()
        } catch { case t: Throwable => w.abort(); throw t }
      }).toSeq
    }
}

object LogDataWriterFactory {
  /** The connector's writers for a write of `schema` into the table
    * at `root`, staging under `stageDir`: the table's own segment
    * writer ([[graft.catalog.LogStore.segmentWriter]], configured from
    * the log) for its physical schema. */
  def apply(spark: SparkSession, root: String, stageDir: String,
      schema: StructType): LogDataWriterFactory = {
    val store = LogStore.configured(spark, root)
    store.segmentWriter(stageDir, physicalFor(store, schema),
      schema.fieldNames.toSeq)
  }

  /** Spark's own parquet writer ([[ParquetFileFormat.prepareWrite]],
    * the one `df.write.parquet` runs) for `physical`, configured here
    * on the driver, with tasks recording `stats`. */
  def of(spark: SparkSession, stageDir: String, physical: StructType,
      stats: SegmentStatsSpec): LogDataWriterFactory = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val writer = new ParquetFileFormat().prepareWrite(spark, job,
      Map.empty, physical)
    // Configuration is not Java-serializable: executors rebuild the
    // configured one (filesystem settings, the writer's schema and
    // codec) from its entries
    new LogDataWriterFactory(stageDir, physical, writer,
      job.getConfiguration.iterator().asScala
        .map(e => (e.getKey, e.getValue)).toArray, stats)
  }

  /** The PHYSICAL write schema for a write of `schema` into `store`:
    * field names swapped per the table's RECORDED column mapping,
    * matched by LOGICAL name — a plain DataFrame append carries no
    * mapping metadata of its own, so the table's schema is the source
    * of truth; fields unknown to the table (a write-side evolution)
    * keep their own name. Identity for unmapped tables and first
    * writes. Rows arrive in the logical schema's POSITIONS, so renaming
    * the fields is the whole translation. */
  private def physicalFor(store: LogStore,
      schema: StructType): StructType = {
    val recorded =
      try if (store.latestVersion() < 0) None else store.recordedSchema()
      catch { case scala.util.control.NonFatal(_) => None }
    val byName = recorded
      .map(_.fields.iterator
        .map(f => f.name -> LogStore.physicalName(f)).toMap)
      .getOrElse(Map.empty[String, String])
    if (byName.forall { case (l, p) => l == p }) schema
    else StructType(schema.fields.map(f =>
      f.copy(name = byName.getOrElse(f.name, LogStore.physicalName(f)))))
  }
}

/** Executor-side writer: one task, one parquet file, opened LAZILY on
  * the first row (an empty task stages nothing unless [[open]] is
  * called), written by Spark's parquet [[OutputWriter]] — the same
  * encodings as every other segment file of the table. As the rows go
  * by it records what the publish needs ([[LogWriteMessage]]): the row
  * count, each stats column's least and greatest value under Spark's
  * ordering for its type, and each Bloom column's bit positions,
  * evaluated by the bound position expressions of `stats` — the per-
  * file statistics the Delta Lake paper collects inside the write
  * tasks, so no publish reads a file back. */
final class LogDataWriter(file: String, schema: StructType,
    factory: OutputWriterFactory, conf: Configuration,
    stats: SegmentStatsSpec)
    extends DataWriter[InternalRow] {
  private var writer: OutputWriter = _
  private var rows = 0L
  private val ords = stats.bounds.map(_._2).toArray
  private val types = stats.bounds.map(_._3).toArray
  private val orderings = types.map(PhysicalDataType.ordering)
  private val lo = new Array[Any](ords.length)
  private val hi = new Array[Any](ords.length)
  private val bits =
    stats.blooms.map(_ => new java.util.BitSet(stats.bloomBits)).toArray
  private lazy val positions =
    UnsafeProjection.create(stats.blooms.flatMap(_._2))

  /** Open the file now, rows or not. */
  def open(): Unit =
    if (writer == null)
      writer = factory.newInstance(file, schema,
        new TaskAttemptContextImpl(conf, new TaskAttemptID()))

  override def write(row: InternalRow): Unit = {
    open()
    writer.write(row)
    rows += 1
    var i = 0
    while (i < ords.length) {
      if (!row.isNullAt(ords(i))) {
        val v = row.get(ords(i), types(i))
        if (lo(i) == null || orderings(i).lt(v, lo(i)))
          lo(i) = InternalRow.copyValue(v)
        if (hi(i) == null || orderings(i).gt(v, hi(i)))
          hi(i) = InternalRow.copyValue(v)
      }
      i += 1
    }
    if (bits.nonEmpty) {
      val p = positions(row)
      var k = 0
      while (k < p.numFields) {
        if (!p.isNullAt(k)) bits(k / 4).set(p.getInt(k))
        k += 1
      }
    }
  }

  override def commit(): LogWriteMessage = {
    if (writer != null) writer.close()
    LogWriteMessage(Option(writer).map(_ => file), rows,
      stats.bounds.indices.map(i => stats.bounds(i)._1 -> (lo(i), hi(i)))
        .toMap,
      stats.blooms.indices.map(k => stats.blooms(k)._1 -> bits(k)).toMap)
  }

  override def abort(): Unit = {
    if (writer != null) {
      writer.close()
      new Path(file).getFileSystem(conf).delete(new Path(file), false)
    }
  }

  override def close(): Unit = ()
}

private[sources] object LogParquetWrite {
  def writable(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
        FloatType | DoubleType | StringType | BinaryType | DateType |
        TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }
}
