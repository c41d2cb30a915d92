package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._

import graft.catalog.LogStore

/** The `table_churn` workload: one keyed `LogStore` table (stats on
  * `k`, Bloom on `sk`, deletion vectors on) under a seeded mix of writes
  * (`append`, `mergeKeyed` upserts, `deleteKeysDV`), reads
  * (`pointLookup`, `readRange`, full `read`, SQL through the `graft-log`
  * catalog) and periodic maintenance (`checkpoint`, `maintainLayout`,
  * `vacuum`). Writes (upserts, deletes) pick keys Zipf-skewed towards
  * the most recently written; reads pick keys uniformly over every key
  * written, so a read's cost does not hinge on whether the seed's last
  * few deletes hit the newest segment.
  *
  * A cycle holds a fixed count of each operation in a fixed interleaved
  * order; maintenance closes each cycle. The parameters make
  * `maintainLayout` compact in every cycle (every segment counts as
  * small, and a cycle adds more small segments than the limit), so the
  * live-segment count returns to its floor once a cycle. The run
  * measures whole cycles on one table.
  *
  * An in-memory model of the table checks every read, and the final
  * table content. */
final class TableChurn(spark: SparkSession, p: Params, seed: Long,
    work: String) extends Workload {
  import spark.implicits._

  private val cycle: Seq[(String, Int)] = p.obj("cycle").keys
    .map(k => k -> p.obj("cycle").int(k))
  private val maintenance = Seq("checkpoint", "maintain_layout", "vacuum")
  private val zipfS = p.dbl("zipf_s")

  private var rnd = new java.util.Random(seed)
  private var store: LogStore = _
  private var root = ""
  private var table = ""
  private val model = mutable.HashMap.empty[Long, Long] // k -> v
  private var maxKey = 0L

  private val schema = StructType(Seq(StructField("k", LongType),
    StructField("sk", StringType), StructField("v", LongType),
    StructField("payload", StringType)))

  private def rows(kv: Seq[(Long, Long)]): DataFrame =
    kv.toDF("k", "v").select(col("k"),
      concat(lit("key-"), col("k")).as("sk"), col("v"),
      concat(lit("payload-"), col("k"), lit("-"), col("v"), lit("-"),
        repeat(lit("abcdefghij"), 3)).as("payload"))

  /** A key by recency rank: rank r has weight 1/(r+1)^s over the keys
    * written so far (continuous inverse CDF). */
  private def zipfKey(): Long = {
    val n = math.max(maxKey, 1L).toDouble
    val u = rnd.nextDouble()
    val x = math.pow((math.pow(n, 1 - zipfS) - 1) * u + 1, 1 / (1 - zipfS))
    math.max(1L, maxKey - (x.toLong - 1))
  }

  /** A key drawn uniformly from every key written so far. */
  private def anyKey(): Long = 1L + (rnd.nextDouble() * maxKey).toLong

  private def distinctKeys(n: Int): Seq[Long] = {
    val s = mutable.LinkedHashSet.empty[Long]
    var tries = 0
    while (s.size < n && tries < 20 * n) { s += zipfKey(); tries += 1 }
    s.toSeq
  }

  def setup(rep: Int): Unit = {
    rnd = new java.util.Random(seed)
    model.clear()
    maxKey = 0L
    table = s"gl.bench.churn_$rep"
    root = s"$work/catalog/bench/churn_$rep"
    store = new LogStore(spark, root, statsCol = Some("k"),
      checkpointInterval = p.int("checkpoint_interval"),
      bloomCol = Some("sk"), dvDeletes = true)
    store.create(schema)
    (0 until p.int("initial_batches")).foreach(_ =>
      append(p.int("append_rows")))
  }

  // ---- operations (each returns None, or a mismatch message) ----------

  private def append(n: Int): Option[String] = {
    val kv = (1 to n).map(i => (maxKey + i, 1L))
    store.append(rows(kv))
    maxKey += n
    kv.foreach { case (k, v) => model(k) = v }
    Trace.add("catalog.log_store.user_rows", n.toDouble)
    None
  }

  private def merge(): Option[String] = {
    val kv = distinctKeys(p.int("merge_rows"))
      .map(k => k -> (model.getOrElse(k, 0L) + 1))
    store.mergeKeyed(rows(kv), Seq("k"))
    kv.foreach { case (k, v) => model(k) = v }
    Trace.add("catalog.log_store.user_rows", kv.size.toDouble)
    None
  }

  private def delete(): Option[String] = {
    val ks = distinctKeys(p.int("delete_keys"))
    store.deleteKeysDV(ks.toDF("k"), Seq("k"))
    ks.foreach(model.remove)
    None
  }

  private def scanned(r: (DataFrame, Int, Int)): DataFrame = {
    Trace.add("catalog.log_store.segments_scanned", r._2.toDouble)
    Trace.add("catalog.log_store.segments_live", r._3.toDouble)
    r._1
  }

  private def lookup(): Option[String] = {
    val k = anyKey()
    val got = scanned(store.pointLookup(s"key-$k")).select("k", "v")
      .as[(Long, Long)].collect().toSeq
    val want = model.get(k).map(k -> _).toSeq
    if (got == want) None else Some(s"lookup $k: $got != $want")
  }

  private def rangeOf(lo: Long, hi: Long): (Long, Long) = {
    val in = model.iterator.filter { case (k, _) => k >= lo && k <= hi }
      .map(_._2).toSeq
    (in.size.toLong, in.sum)
  }

  private def countSum(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("v")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def range(): Option[String] = {
    val lo = anyKey()
    val hi = lo + p.long("range_width")
    val got = countSum(scanned(store.readRange(lo.toString, hi.toString)))
    val want = rangeOf(lo, hi)
    if (got == want) None else Some(s"range [$lo,$hi]: $got != $want")
  }

  private def full(): Option[String] = {
    val got = countSum(store.read())
    val want = (model.size.toLong, model.values.sum)
    if (got == want) None else Some(s"read: $got != $want")
  }

  private def sql(): Option[String] = {
    val lo = anyKey()
    val hi = lo + p.long("range_width")
    val df = spark.sql(s"SELECT count(*) AS n, coalesce(sum(v), 0) AS s " +
      s"FROM $table WHERE k BETWEEN $lo AND $hi")
    val r = Trace.span("sources.sql_read")(df.collect().head)
    if (Trace.enabled) {
      val ph = df.queryExecution.tracker.phases
      Trace.sample("sources.sql_planning_ms", ph.values
        .map(s => (s.endTimeMs - s.startTimeMs).toDouble).sum)
      // inputFiles lists nothing for this DSv2 source; its scan plans
      // one input partition per segment file it reads
      Trace.sample("sources.sql_files_scanned", (df.inputFiles.length +
        TableChurn.collect(df.queryExecution.executedPlan) {
          case b: BatchScanExec => b.inputPartitions.size }.sum).toDouble)
    }
    val got = (r.getLong(0), r.getLong(1))
    val want = rangeOf(lo, hi)
    if (got == want) None else Some(s"sql [$lo,$hi]: $got != $want")
  }

  private def maintain(kind: String): Option[String] = {
    kind match {
      case "checkpoint" => store.checkpoint()
      case "maintain_layout" => store.maintainLayout(
        p.long("min_segment_bytes"), p.int("small_segment_limit"))
      case "vacuum" => store.vacuum(p.int("vacuum_retain"), 0L)
    }
    None
  }

  private val writes = Set("append", "merge_keyed", "delete_keys_dv") ++
    maintenance

  // ---- traced probes, taken between operations ------------------------

  private def files(dir: String = root): Map[String, Long] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(f => f.toString -> java.nio.file.Files.size(f)).toMap
    finally s.close()
  }

  private def probeLog(): Unit = {
    val t0 = Trace.nowMs
    store.latestVersion()
    Trace.sample("catalog.log_store.latest_version_ms", Trace.nowMs - t0)
    val names = files().keys.filter(_.contains("/_log/"))
      .map(n => n.substring(n.lastIndexOf('/') + 1)).toSeq
    def versions(ext: String) = names.collect {
      case n if n.matches(s"[0-9]+\\.$ext") => n.takeWhile(_ != '.').toLong }
    val cp = versions("checkpoint").maxOption.getOrElse(-1L)
    Trace.sample("catalog.log_store.log_files_since_checkpoint",
      versions("json").count(_ > cp).toDouble)
    Trace.sample("catalog.log_store.live_segments",
      store.liveSegments().size.toDouble)
  }

  /** The cycle's operations, each kind spread evenly over the cycle
    * (smooth interleave), then maintenance. The schedule is the same for
    * every seed, so every run sees the same ordering effects (a read
    * right after a delete, say); the seed draws the keys. */
  private val schedule: Seq[String] = {
    val n = cycle.map(_._2).sum
    cycle.zipWithIndex.flatMap { case ((kind, c), j) =>
      (0 until c).map(i => ((i + 0.5) * n / c, j, kind)) }
      .sorted.map(_._3) ++ maintenance
  }

  /** Each operation kind once, untimed, on the set-up table, with
    * tracing paused. */
  override def warm(): Unit = {
    val traced = Trace.enabled
    Trace.enabled = false
    schedule.distinct.foreach(kind =>
      exec(kind).foreach(m => warmWrong ::= s"warm-$kind: $m"))
    Trace.enabled = traced
  }

  private def exec(kind: String): Option[String] = kind match {
    case "append" => append(p.int("append_rows"))
    case "merge_keyed" => merge()
    case "delete_keys_dv" => delete()
    case "point_lookup" => lookup()
    case "read_range" => range()
    case "read" => full()
    case "sql_read" => sql()
    case m => maintain(m)
  }

  private var warmWrong = List.empty[String]

  def cycle(c: Int): Unit = {
    schedule.zipWithIndex.foreach { case (kind, i) =>
      val trace = s"c$c-$i-$kind"
      val before =
        if (Trace.enabled && writes(kind)) files() else Map.empty[String, Long]
      Trace.op(s"table.$kind", trace)(exec(kind)).flatten.foreach { msg =>
        System.err.println(s"[perfbench] $trace wrong: $msg")
        Trace.failOp(trace)
      }
      if (Trace.enabled) {
        if (writes(kind)) Trace.add("catalog.log_store.bytes_written",
          files().iterator.filterNot(f => before.contains(f._1))
            .map(_._2).sum.toDouble)
        probeLog()
      }
      Heap.afterOp()
    }
  }

  private var liveOnceBytes = 0L
  private var tableBytes = 0L

  override def finish(): Seq[(String, Boolean, String)] = {
    val got = store.read().select("k", "v").as[(Long, Long)].collect()
    val ok = got.length == model.size && got.toMap == model.toMap
    // the live rows written once, as one parquet file
    val once = s"$work/live_once"
    rows(model.toSeq).coalesce(1).write.mode("overwrite").parquet(once)
    liveOnceBytes = files(once).values.sum
    tableBytes = files().values.sum
    Seq(("final table content equals the model", ok,
      s"${got.length} rows read, ${model.size} in the model"),
      ("warm-up reads equal the model", warmWrong.isEmpty,
        warmWrong.take(3).mkString("; ")))
  }

  override def extra: JObject = JObject("live_rows" -> JInt(model.size),
    "live_once_bytes" -> JLong(liveOnceBytes),
    "table_bytes" -> JLong(tableBytes))
}

/** Walks executed plans through adaptive query stages. */
object TableChurn extends AdaptiveSparkPlanHelper
