package graft.sources

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
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

final case class LogWriteMessage(file: Option[String])
  extends WriterCommitMessage

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
    val files = messages.collect {
      case LogWriteMessage(Some(f)) => f
    }
    if (files.isEmpty) {
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
    val segNames = stageToSegments(fs, root, files.toSeq, fileAsSegment)
    val store = LogStore.configured(spark, root)
    val v = store.publishSegments(segNames, schema, txn = txn)
    if (v == -1L) // fenced replay: the epoch already landed
      segNames.foreach(s => fs.delete(new Path(s"$root/$s"), true))
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

  /** Move the message-named staged files into fresh `seg-*`
    * directories — one segment per commit (the append shape) or one
    * per task file (clustered ingest: each range-partitioned file
    * carries its own tight bounds in the log). */
  private def stageToSegments(fs: org.apache.hadoop.fs.FileSystem,
      root: String, files: Seq[String],
      fileAsSegment: Boolean): Seq[String] = {
    val groups: Seq[Seq[String]] =
      if (fileAsSegment) files.map(Seq(_)) else Seq(files)
    groups.map { group =>
      val segName = s"seg-${UUID.randomUUID().toString.take(12)}"
      fs.mkdirs(new Path(s"$root/$segName"))
      group.foreach { f =>
        val from = new Path(f)
        if (!fs.rename(from,
            new Path(s"$root/$segName/${from.getName}")))
          throw new java.io.IOException(s"staging rename of $f failed")
      }
      segName
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
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val files = messages.collect { case LogWriteMessage(Some(f)) => f }
    val store = LogStore.configured(spark, root)
    val readVersion = store.latestVersion()
    val removes =
      if (readVersion < 0) Nil else store.liveSegments(readVersion)
    if (files.isEmpty && removes.isEmpty) {
      cleanup(spark, stageDir) // overwriting nothing with nothing
      return
    }
    // zero staged files = atomic truncate: no segment directory may
    // be created (an empty seg dir is unreadable and unreferenced)
    val segNames =
      if (files.isEmpty) Nil
      else stageToSegments(fs, root, files.toSeq, fileAsSegment)
    store.publishReplace(segNames, removes, schema, readVersion)
    cleanup(spark, stageDir)
  }

  def cleanup(spark: SparkSession, stageDir: String): Unit = {
    val fs = new Path(stageDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(stageDir), true)
  }
}

final class LogDataWriterFactory(stageDir: String, schema: StructType,
    writer: OutputWriterFactory, confEntries: Array[(String, String)])
    extends DataWriterFactory with StreamingDataWriterFactory {
  private def conf: Configuration = {
    val c = new Configuration(false)
    confEntries.foreach { case (k, v) => c.set(k, v) }
    c
  }
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new LogDataWriter(s"$stageDir/part-$partitionId-$taskId.parquet",
      schema, writer, conf)
  // the streaming form: stageDir is the QUERY prefix — the epoch id
  // completes it to the per-epoch staging directory the driver's
  // commit(epochId)/abort(epochId) operate on, so epochs never share
  // a staging dir and abort cleanup actually removes what was written
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new LogDataWriter(
      s"$stageDir-e$epochId/part-$partitionId-$taskId.parquet", schema,
      writer, conf)
}

object LogDataWriterFactory {
  /** The executor writers for a write of `schema` into the table at
    * `root`, staging under `stageDir`: Spark's own parquet writer
    * ([[ParquetFileFormat.prepareWrite]], the one `df.write.parquet`
    * and `LogStore.append` run), configured here on the driver for
    * the table's physical schema. */
  def apply(spark: SparkSession, root: String, stageDir: String,
      schema: StructType): LogDataWriterFactory = {
    val physical = physicalFor(spark, root, schema)
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val writer = new ParquetFileFormat().prepareWrite(spark, job,
      Map.empty, physical)
    // Configuration is not Java-serializable: executors rebuild the
    // configured one (filesystem settings, the writer's schema and
    // codec) from its entries
    new LogDataWriterFactory(stageDir, physical, writer,
      job.getConfiguration.iterator().asScala
        .map(e => (e.getKey, e.getValue)).toArray)
  }

  /** The PHYSICAL write schema for a write of `schema` into the table
    * at `root`: field names swapped per the table's RECORDED column
    * mapping, matched by LOGICAL name — a plain DataFrame append
    * carries no mapping metadata of its own, so the table's schema is
    * the source of truth; fields unknown to the table (a write-side
    * evolution) keep their own name. Identity for unmapped tables and
    * first writes. Rows arrive in the logical schema's POSITIONS, so
    * renaming the fields is the whole translation. */
  private def physicalFor(spark: SparkSession,
      root: String, schema: StructType): StructType = {
    val recorded =
      try {
        val st = new LogStore(spark, root)
        if (st.latestVersion() < 0) None else st.recordedSchema()
      } catch { case scala.util.control.NonFatal(_) => None }
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
  * the first row (an empty task stages nothing), written by Spark's
  * parquet [[OutputWriter]] — the same encodings as every other
  * segment file of the table. */
final class LogDataWriter(file: String, schema: StructType,
    factory: OutputWriterFactory, conf: Configuration)
    extends DataWriter[InternalRow] {
  private var writer: OutputWriter = _

  override def write(row: InternalRow): Unit = {
    if (writer == null)
      writer = factory.newInstance(file, schema,
        new TaskAttemptContextImpl(conf, new TaskAttemptID()))
    writer.write(row)
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) writer.close()
    LogWriteMessage(Option(writer).map(_ => file))
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
