package graft.catalog

import java.nio.file.Files

import org.apache.spark.TestBus
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Differential pin for the Bloom filters the write tasks record
  * (`LogDataWriter`): the recorded hex of every segment × bloom column
  * must be BIT-IDENTICAL to an independent driver-side rebuild over
  * the segment's distinct key strings through
  * [[LogStore.bloomPositions]] — the same positions the point-lookup
  * probe computes, so equality here IS the zero-false-negative
  * contract. Covers multi-segment publishes, a numeric bloom column
  * (cast-to-string spelling), an all-null segment (must record the
  * all-zero filter), the clustered multi-segment ingest path, every
  * engine write kernel (merge, optimize, maintainLayout), a zero-row
  * write, a Bloom column stored under a mapped physical name, and a
  * SQL INSERT through the connector. */
class BloomWordsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft-bwords").toString

  /** Recompute a segment-column hex from the raw parquet through the
    * driver-side probe hashing and compare with the recorded one. */
  private def checkHexes(store: LogStore, root: String,
      cols: Seq[String], physical: Map[String, String] = Map.empty)
      : Unit = {
    val segs = store.liveSegmentInfos(blooms = true)
    assert(segs.nonEmpty)
    segs.foreach { s =>
      val df = spark.read.parquet(s"$root/${s.name}")
      cols.foreach { c =>
        val p = physical.getOrElse(c, c)
        val keys = df.where(col(p).isNotNull)
          .select(col(p).cast("string")).distinct()
          .collect().map(_.getString(0))
        val bits = new Array[Boolean](4096)
        keys.foreach(k =>
          store.bloomPositions(k).foreach(bits(_) = true))
        val expected = LogStore.bloomHexOf(bits)
        val got = if (c == "k") s.bloom else s.bxs.get(c)
        assert(got.contains(expected),
          s"segment ${s.name} column $c: recorded hex != driver rebuild")
      }
    }
  }

  test("string + numeric bloom hexes are identical to the driver " +
      "probe rebuild across multi-append segments") {
    val root = tmp() + "/t"
    val store = new LogStore(spark, root, statsCol = Some("id"),
      bloomCol = Some("k"), bloomCols = Seq("n"))
    def seg(lo: Int) = (lo until lo + 300)
      .map(i => (i.toLong, s"key-$i", (i % 37).toLong))
      .toDF("id", "k", "n")
    store.append(seg(0))
    store.append(seg(300))
    checkHexes(store, root, Seq("k", "n"))
    // and the probe really skips: a key only segment 0 holds
    val (_, opened, live) = store.pointLookup("key-5")
    assert(live == 2 && opened == 1)
  }

  test("an all-null bloom column records the all-zero filter (which " +
      "skips every probe) and nulls never set bits") {
    val root = tmp() + "/t"
    val store = new LogStore(spark, root, bloomCol = Some("k"))
    store.append(Seq((1L, None: Option[String]), (2L, None))
      .toDF("id", "k"))
    store.append(Seq((3L, Some("present")), (4L, None)).toDF("id", "k"))
    checkHexes(store, root, Seq("k"))
    val (df, opened, live) = store.pointLookup("present")
    assert(live == 2 && opened == 1 && df.count() == 1)
  }

  test("a clustered multi-segment publish records per-segment hexes " +
      "identical to the driver rebuild") {
    val root = tmp() + "/t"
    val store = new LogStore(spark, root, statsCol = Some("id"),
      bloomCol = Some("k"))
    store.appendClustered((0 until 400)
      .map(i => (i.toLong, s"ck-$i")).toDF("id", "k"), col("id"), 4)
    assert(store.liveSegmentInfos().size == 4)
    checkHexes(store, root, Seq("k"))
  }

  private def churn(root: String): LogStore =
    new LogStore(spark, root, statsCol = Some("id"), bloomCol = Some("k"),
      bloomCols = Seq("n"))

  private def seg(lo: Int, hi: Int) = (lo until hi)
    .map(i => (i.toLong, s"key-$i", (i % 37).toLong))
    .toDF("id", "k", "n")

  test("mergeKeyed's rewritten segment records hexes identical to the " +
      "driver rebuild") {
    val root = tmp() + "/t"
    val store = churn(root)
    store.append(seg(0, 300))
    store.append(seg(300, 600))
    store.mergeKeyed(Seq((5L, "moved-5", 99L), (700L, "key-700", 1L))
      .toDF("id", "k", "n"), Seq("id"))
    checkHexes(store, root, Seq("k", "n"))
    val (df, _, _) = store.pointLookup("moved-5")
    assert(df.count() == 1)
    assert(store.pointLookup("key-5")._1.count() == 0)
  }

  test("optimize and maintainLayout into several buckets record " +
      "per-bucket hexes identical to the driver rebuild") {
    val root = tmp() + "/t"
    val store = churn(root)
    (0 until 4).foreach(b => store.append(seg(b * 150, b * 150 + 150)))
    assert(store.optimize(3, col("id")).produced == 3)
    checkHexes(store, root, Seq("k", "n"))
    (0 until 3).foreach(b =>
      assert(store.pointLookup(s"key-${b * 200 + 7}")._2 == 1))
    // maintainLayout packs every segment (each is "small") into
    // outputs no bigger than the largest one: several buckets
    store.append(seg(600, 700))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val cap = store.liveSegments()
      .map(LogStore.segmentBytesOf(fs, root, _)).max + 1
    val r = store.maintainLayout(cap, 2, maxSegmentBytes = cap,
      clusterBy = Seq(col("id")))
    assert(r.result.exists(_.produced >= 2))
    checkHexes(store, root, Seq("k", "n"))
    // and the round-robin (no cluster key) bucketing
    assert(store.optimize(2).produced == 2)
    checkHexes(store, root, Seq("k", "n"))
    assert(store.pointLookup("key-650")._1.count() == 1)
  }

  test("a zero-row write records the all-zero filter, no read-back job") {
    val root = tmp() + "/t"
    val store = churn(root)
    store.append(seg(0, 10))
    val zero = LogStore.bloomHexOf(new Array[Boolean](4096))
    // an empty local relation and a filter that keeps nothing: one
    // job each — the write, whose partition 0 lands an empty file
    assert(TestBus.jobsOf(spark.sparkContext)(
      store.append(seg(0, 0))) == 1)
    assert(TestBus.jobsOf(spark.sparkContext)(
      store.append(seg(0, 10).where(col("id") < 0))) == 1)
    val empty = store.liveSegmentInfos(blooms = true)
      .filter(_.rows.contains(0L))
    assert(empty.size == 2)
    empty.foreach { s =>
      assert(s.bloom.contains(zero) && s.bxs.get("n").contains(zero))
    }
    checkHexes(store, root, Seq("k", "n"))
  }

  test("a SQL INSERT through the connector records hexes identical " +
      "to the driver rebuild (DOUBLE stats beside the Bloom column)") {
    val root = tmp()
    spark.conf.set("spark.sql.catalog.gbwords",
      "graft.sources.GraftLogCatalog")
    spark.conf.set("spark.sql.catalog.gbwords.root", root)
    spark.sql("CREATE TABLE gbwords.t (d DOUBLE, k STRING) " +
      "TBLPROPERTIES ('statsCol' = 'd', 'bloomCol' = 'k')")
    spark.sql("INSERT INTO gbwords.t VALUES (1.5, 'a'), " +
      "(CAST('NaN' AS DOUBLE), 'b'), (-1e300, NULL), (NULL, 'c')")
    spark.sql("INSERT INTO gbwords.t SELECT CAST(id AS DOUBLE) / 7, " +
      "concat('key-', id) FROM range(0, 300)")
    val store = LogStore.configured(spark, s"$root/t")
    checkHexes(store, s"$root/t", Seq("k"))
    val (df, opened, live) = store.pointLookup("key-77")
    assert(df.count() == 1 && opened == 1 && live == 2)
  }

  test("a Bloom column under column mapping hashes its physical bytes " +
      "and records under its logical name") {
    val root = tmp() + "/t"
    val plain = new LogStore(spark, root)
    plain.create(seg(0, 0).schema)
    // free the name "k", then re-add it: the new column's physical
    // name is a fresh col-<uuid>, distinct from its logical name
    plain.renameColumn("k", "k_old")
    plain.addColumns(StructType(Seq(StructField("k", StringType))))
    val store = new LogStore(spark, root, bloomCol = Some("k"))
    def mapped(lo: Int, hi: Int) = seg(lo, hi)
      .withColumnRenamed("k", "k_old")
      .withColumn("k", concat(lit("new-"), col("id")))
    store.append(mapped(0, 50))
    store.append(mapped(50, 100))
    val phys = LogStore.physicalName(store.recordedSchema().get("k"))
    assert(phys != "k")
    checkHexes(store, root, Seq("k"), Map("k" -> phys))
    val (df, opened, live) = store.pointLookup("new-77")
    assert(df.count() == 1 && opened == 1 && live == 2)
  }
}
