package perfbench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.SparkEntry

/** The `query_mix` workload: a fixed, committed list of
  * `SparkEntry.queries` entries (`perfbench/query_mix.json`, written by
  * `mix.py`) over the committed input tables, each materialised through
  * the noop sink. The seed sets only the order of each pass.
  *
  * Correctness: in the warm-up pass every query's order-insensitive
  * output hash must match `perfbench/golden/query_mix.json`; a query that
  * does not match counts every one of its measured runs as failed. */
final class QueryMix(spark: SparkSession, p: Params, seed: Long,
    bench: String) extends Workload {

  private val spec = JsonMethods.parse(Files.readString(
    Paths.get(s"$bench/${p.str("list")}")))
  private val dataDir = s"$bench/${p.str("data")}"
  private val list: Seq[(String, String)] = (spec \ "queries") match {
    case JArray(qs) => qs.map(q =>
      ((q \ "name").asInstanceOf[JString].s,
        (q \ "family").asInstanceOf[JString].s))
    case _ => throw new IllegalArgumentException("query list missing")
  }
  private val golden: Map[String, String] = {
    val g = JsonMethods.parse(Files.readString(
      Paths.get(s"$bench/${p.str("golden")}")))
    list.map { case (n, _) => n -> ((g \ n \ "sha256") match {
      case JString(h) => h
      case _ => ""
    }) }.toMap
  }
  private val fns = SparkEntry.queries

  /** Set-up checks every input table's parquet footer against the
    * list's manifest (row counts). */
  def setup(rep: Int): Unit = (spec \ "tables") match {
    case JObject(ts) => ts.foreach { case (t, JInt(rows)) =>
      val in = HadoopInputFile.fromPath(new Path(s"$dataDir/$t.parquet"),
        spark.sparkContext.hadoopConfiguration)
      val r = ParquetFileReader.open(in)
      val n = try r.getRecordCount finally r.close()
      require(n == rows.toLong, s"input table $t has $n rows, expected $rows")
    case (t, _) => throw new IllegalArgumentException(s"bad manifest $t")
    }
    case _ => throw new IllegalArgumentException("table manifest missing")
  }

  private var wrong = Set.empty[String]

  override def warm(): Unit = list.foreach { case (name, _) =>
    val h = try QueryMix.hash(fns(name)(spark, dataDir)) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $name failed in warm-up: $e")
        "error"
    }
    if (h != golden(name)) {
      System.err.println(s"[perfbench] $name output hash $h does not " +
        s"match the golden ${golden(name)}")
      wrong += name
    }
    spark.catalog.clearCache()
  }

  private val family = list.toMap

  private val rnd = new scala.util.Random(seed)

  /** One pass over the list in a seed-shuffled order. */
  def cycle(c: Int): Unit = {
    rnd.shuffle(list.map(_._1)).foreach { name =>
      val trace = s"p$c-$name"
      Trace.op(s"query.${family(name)}", trace) {
        val df = Trace.span("entry.build")(fns(name)(spark, dataDir))
        if (Trace.enabled) {
          val ph = df.queryExecution.tracker.phases
          ph.get("analysis").foreach(s =>
            Trace.sample("entry.build_analysis_ms",
              (s.endTimeMs - s.startTimeMs).toDouble))
        }
        Trace.span("entry.execute") {
          df.write.format("noop").mode("overwrite").save()
        }
      }
      if (wrong(name)) Trace.failOp(trace)
      spark.catalog.clearCache()
      Heap.afterOp()
    }
  }

}

object QueryMix {
  /** Order-insensitive output hash: every row rendered with columns in
    * name order, the rendered rows sorted, then SHA-256. */
  def hash(df: DataFrame): String = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(df.col): _*).collect()
      .map(r => render(r)).sorted
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { r => md.update(r.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  private def render(v: Any): String = v match {
    case null => "NULL"
    case r: Row => r.toSeq.map(render).mkString("(", "|", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }
        .sorted.mkString("{", ",", "}")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case x => x.toString
  }

  /** Prints the order-insensitive hash of each named query's output,
    * one `name hash` line each, in the harness's Spark session; golden.py
    * writes them into the golden file.
    * Arguments: data dir, comma-separated query names, spark cores,
    * scratch dir. */
  def main(args: Array[String]): Unit = {
    val Array(data, names, cores, work) = args
    val spark = Main.session(cores.toInt, work)
    try names.split(',').foreach { n =>
      println(s"$n ${hash(SparkEntry.queries(n)(spark, data))}")
      spark.catalog.clearCache()
    } finally spark.stop()
  }
}
