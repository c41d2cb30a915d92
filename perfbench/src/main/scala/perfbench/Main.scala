package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Workload parameters, read from the workload's block of
  * `perfbench/workloads.json`. */
final case class Params(j: JValue) {
  private def num(k: String): Double = j \ k match {
    case JInt(v) => v.toDouble
    case JLong(v) => v.toDouble
    case JDouble(v) => v
    case JDecimal(v) => v.toDouble
    case _ => throw new IllegalArgumentException(s"missing parameter '$k'")
  }
  def int(k: String): Int = num(k).toInt
  def long(k: String): Long = num(k).toLong
  def dbl(k: String): Double = num(k)
  def str(k: String): String = j \ k match {
    case JString(s) => s
    case _ => throw new IllegalArgumentException(s"missing parameter '$k'")
  }
  def obj(k: String): Params = Params(j \ k)
  def keys: List[String] = j match {
    case JObject(fs) => fs.map(_._1)
    case _ => Nil
  }
}

/** One workload: set-up (repeatable into fresh state), an untimed
  * warm-up, measured cycles of operations, and the checks that need the
  * whole run. */
trait Workload {
  def setup(rep: Int): Unit
  def warm(): Unit = ()
  /** Runs measured cycle `i`: a fixed set of operations. */
  def cycle(i: Int): Unit
  /** Final checks: (name, ok, detail). */
  def finish(): Seq[(String, Boolean, String)] = Nil
  /** Raw workload figures the analysis needs beyond ops and spans. */
  def extra: JObject = JObject()
  def close(): Unit = ()
}

/** Post-GC used heap, sampled after every `every`-th operation (never
  * inside one), so every run samples at the same points. */
object Heap {
  private var every = 1
  private var ops = 0
  private val samples = scala.collection.mutable.ArrayBuffer.empty[Double]
  def configure(n: Int): Unit = every = n
  def sample(): Unit = {
    // Spark drops unpersisted blocks and out-of-scope broadcasts and
    // shuffles asynchronously, after a collection finds them, and on a
    // busy machine that can take several collections; the heap the
    // engine still holds is the lowest reading once two readings a
    // moment apart agree to within 1 MB (at most five readings)
    def read(): Double = {
      System.gc()
      Thread.sleep(100)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    val rs = scala.collection.mutable.ArrayBuffer(read(), read())
    while (rs.size < 5 && math.abs(rs.last - rs(rs.size - 2)) >= 1.0)
      rs += read()
    samples += rs.min
  }
  def afterOp(): Unit = { ops += 1; if (ops % every == 0) sample() }
  def json: JValue = JArray(samples.toList.map(JDouble(_)))
}

/** Entry point of one benchmark run. `perfbench/run.py` builds this
  * harness and calls it; it writes the run's raw record as JSON, and
  * run.py turns that into the metrics.
  *
  * Arguments: --workload --seed --seconds --trace --work --params --out,
  * and --bench (the perfbench directory, for committed inputs). */
object Main {
  /** The Spark session every workload runs in: `local[cores]` (at most
    * the machine's cores), scratch and catalog under `work`, and the
    * engine's functions registered. */
  def session(cores: Int, work: String): SparkSession = {
    val n = math.min(cores, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "32m")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.catalog.gl", "graft.sources.GraftLogCatalog")
      .config("spark.sql.catalog.gl.root", s"$work/catalog")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  def main(args: Array[String]): Unit = {
    val code = try { runOnce(args); 0 } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    System.exit(code)
  }

  private def runOnce(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val work = new File(a("work")).getAbsolutePath
    val p = Params(JsonMethods.parse(Files.readString(Paths.get(a("params")))))
    val seed = a("seed").toLong
    Trace.enabled = a("trace") == "1"
    Trace.bindDriverThread()
    Seq("spark-local", "warehouse", "catalog", "tmp")
      .foreach(d => new File(s"$work/$d").mkdirs())
    val spark = session(p.int("spark_cores"), work)
    val cores = spark.sparkContext.defaultParallelism
    val probe = new SparkProbe
    if (Trace.enabled) {
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(probe)
    }
    Heap.configure(p.int("heap_every_ops"))
    val bench = a("bench")
    val wl: Workload = a("workload") match {
      case "billing_days" => new BillingDays(spark, p, seed, work)
      case "query_mix" => new QueryMix(spark, p, seed, bench)
      case "table_churn" => new TableChurn(spark, p, seed, work)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val out = try {
      val t0 = Trace.nowMs
      val setups = (0 until p.int("setup_reps")).map { i =>
        val t0 = System.nanoTime()
        wl.setup(i)
        (System.nanoTime() - t0) / 1e9
      }
      val t1 = Trace.nowMs
      wl.warm()
      val t2 = Trace.nowMs
      Trace.resetCounters()
      Heap.sample()
      // a fixed amount of work per run: the cycles that take about
      // --seconds on the reference machine, so every run of a workload
      // (and of the parent commit) measures the same operations
      val seconds = a("seconds").toDouble
      val cycles =
        math.max(1, math.round(seconds / p.dbl("cycle_seconds")).toInt)
      val start = Trace.nowMs
      // no new cycle once 3 × --seconds have passed (a far slower machine)
      var i = 0
      while (i < cycles && Trace.nowMs < start + 3 * seconds * 1000) {
        wl.cycle(i)
        i += 1
      }
      val measuredMs = Trace.nowMs - start
      Heap.sample()
      val checks = wl.finish()
      PerfbenchBus.drain(spark.sparkContext)
      val phases = Seq("setup" -> (t1 - t0), "warm" -> (t2 - t1),
        "measure" -> measuredMs, "finish" -> (Trace.nowMs - start - measuredMs))
      JObject(
        "workload" -> JString(a("workload")), "seed" -> JLong(seed),
        "trace" -> JBool(Trace.enabled), "cores" -> JInt(cores),
        "setup_s" -> JArray(setups.toList.map(JDouble(_))),
        "phase_ms" -> JObject(phases.map { case (k, v) => k -> JDouble(v) }.toList),
        "heap_mb" -> Heap.json,
        "ops" -> Trace.opsJson,
        "final_checks" -> JArray(checks.toList.map { case (n, ok, d) =>
          JObject("name" -> JString(n), "ok" -> JBool(ok),
            "detail" -> JString(d)) }),
        "extra" -> wl.extra,
        "spans" -> Trace.spansJson,
        "jobs" -> probe.jobsJson,
        "phases" -> probe.phasesJson,
        "counters" -> Trace.countersJson,
        "samples" -> Trace.samplesJson)
    } finally {
      wl.close()
      spark.stop()
    }
    Files.writeString(Paths.get(a("out")),
      JsonMethods.compact(JsonMethods.render(out)))
  }
}
