package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.VectorFunctions.vec_norm

/** Differential pin for the IVF-PQ cell assignment: the build-time
  * residual codebook assigns its head rows on the driver
  * ([[AnnIndex.assignPosDriver]]) while every encode and query assigns
  * on the executors ([[AnnIndex.pqAssignExpr]]). The two must agree
  * row for row, or the codebook is trained on residuals the queries
  * never see. The driver replay mirrors three things kept elsewhere —
  * VecDot's sequential double accumulation, Spark's double ordering
  * and `greatest`'s keep-first tie rule — so any change to one of them
  * fails here. */
class PqAssignPinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dims = 8

  /** Both assignments of every embedding under `cents`, side by side,
    * with norms computed the way the index build computes them. */
  private def assignments(embs: Seq[Seq[Float]], cents: Seq[Seq[Float]])
      : Seq[(Int, Int)] = {
    def normed(vs: Seq[Seq[Float]]) = vs.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding"),
        vec_norm(col("embedding")).as("nrm"))
    val centRows = normed(cents).orderBy("vec_id").collect()
      .map(r => (r.getSeq[Float](1), r.getDouble(2)))
    val book = AnnIndex.PqBook(centRows, Nil, Nil, Nil, 1, dims, 1)
    normed(embs).withColumn("cell_pos", AnnIndex.pqAssignExpr(book))
      .orderBy("vec_id").collect().toSeq.map { r =>
        (AnnIndex.assignPosDriver(r.getSeq[Float](1), r.getDouble(2),
          centRows), r.getInt(3))
      }
  }

  private def randomVecs(rnd: java.util.Random, n: Int) =
    Seq.fill(n)(Seq.fill(dims)(rnd.nextFloat() * 2f - 1f))

  test("seeded random vectors: driver and expression agree") {
    val rnd = new java.util.Random(20260)
    val cents = randomVecs(rnd, 12)
    val got = assignments(randomVecs(rnd, 400), cents)
    got.foreach { case (driver, expr) => assert(driver == expr) }
    // the pin is not vacuous: the rows spread over many cells
    assert(got.map(_._2).distinct.size > 6)
  }

  test("exact ties keep the lowest position on both sides") {
    val rnd = new java.util.Random(5)
    val base = randomVecs(rnd, 4)
    // cells 1 and 3 are the same vector, as are cells 2 and 4: every
    // embedding nearest to one of a pair ties exactly with its twin
    val cents = Seq(base(0), base(1), base(2), base(1), base(2), base(3))
    val embs = randomVecs(rnd, 200) ++ base ++
      Seq(base(1).map(_ * 3f), base(2).map(_ * 0.5f))
    val got = assignments(embs, cents)
    got.foreach { case (driver, expr) => assert(driver == expr) }
    assert(!got.exists(g => g._2 == 3 || g._2 == 4),
      "a tied twin must never win over the lower position")
    assert(got.exists(_._2 == 1) && got.exists(_._2 == 2))
  }

  test("a NaN cosine (every cosine NaN) takes cell 0 on both sides") {
    val rnd = new java.util.Random(11)
    val cents = randomVecs(rnd, 5)
    val nan = Seq.fill(dims)(0.5f).updated(3, Float.NaN)
    val got = assignments(nan +: randomVecs(rnd, 50), cents)
    got.foreach { case (driver, expr) => assert(driver == expr) }
    assert(got.head == ((0, 0)))
  }

  test("zero norms: the expression refuses under ANSI division; with " +
      "it off, a zero-norm embedding takes cell 0 on both sides") {
    val rnd = new java.util.Random(13)
    val cents = randomVecs(rnd, 5)
    val zero = Seq.fill(dims)(0f)
    // 0 / 0 is DIVIDE_BY_ZERO in an ANSI session (Spark 4's default):
    // the encode fails loudly, never assigning a cell silently
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    Seq((Seq(zero), cents), (randomVecs(rnd, 3), zero +: cents))
      .foreach { case (embs, cs) =>
        val e = intercept[Exception](
          assignments(embs, cs))
        assert(Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).exists(_.getMessage
            .contains("DIVIDE_BY_ZERO")))
      }
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val got = assignments(zero +: randomVecs(rnd, 50), cents)
      got.foreach { case (driver, expr) => assert(driver == expr) }
      assert(got.head == ((0, 0)))
    } finally spark.conf.set("spark.sql.ansi.enabled", "true")
  }

  test("a zero-norm coarse centroid refuses the IVF-PQ build under " +
      "both ANSI settings, naming its vec_id") {
    val rnd = new java.util.Random(17)
    val corpus = randomVecs(rnd, 40).updated(2, Seq.fill(dims)(0f))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-pqzero")
    for (ansi <- Seq("true", "false")) {
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      try {
        val e = intercept[IllegalArgumentException](
          AnnIndex.buildIvfPq(spark, corpus, 0L, s"$dir/ansi-$ansi",
            nCells = 4, m = 2, dims = dims, ksub = 8))
        assert(e.getMessage.contains("vec_id 2 has a zero norm"))
      } finally spark.conf.set("spark.sql.ansi.enabled", "true")
    }
  }
}
