package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Par.par2
import graft.catalog.LogStore
import graft.functions.VectorFunctions.{vec_dot, vec_norm}

/** A PERSISTED IVF index — "the index is a table": centroid
  * assignments stored as graft-log TRANSACTIONAL tables, so the
  * billion-vector index inherits everything the table layer already
  * guarantees (atomic commits, time travel, exactly-once incremental
  * maintenance, stats-skipped reads) instead of inventing an index
  * file format:
  *
  *  - `centroids` table: the codebook, under either coarse-quantizer
  *    policy. DETERMINISTIC (the [[Similarity.ivfTopK]] policy: the
  *    first nCells corpus vectors by vec_id) stores (cell_id, vec_id,
  *    nrm) — vector payloads stay IN the corpus (fetched by id at
  *    search time — the DiskANN-style external-storage shape; an
  *    index never duplicates 100 TB of floats). TRAINED (the
  *    [[Similarity.ivfTopKTrained]] policy: k-means centroids, the
  *    Faiss design) stores (cell_id, embedding) — k trained mean
  *    vectors are index state, not corpus rows — with the training
  *    config (`ivfPolicy`/`ivfCells`/`ivfIters`) recorded as table
  *    PROPERTIES in the log, so a path-only reader reconstructs the
  *    exact search semantics with no out-of-band configuration.
  *  - `postings` table: (cell_id, vec_id, nrm), statsCol = cell_id,
  *    ingested CLUSTERED on cell_id through the DSv2 sink
  *    (`clusterBy` + one segment per range file) — per-segment
  *    cell_id bounds are tight disjoint ranges, so probing nProbe
  *    cells opens ≈ the segments covering those cells and SKIPS the
  *    rest by the logged stats ([[graft.catalog.LogStore.readRanges]]
  *    reports exactly how many opened — the files-opened pin).
  *  - **Search** (ANY process, no shared state — a restart is just
  *    `LogStore.configured(path)`): per-query nProbe cells from the
  *    k-row codebook (driver literals, the same argmax/argmin
  *    expressions as the in-memory IVF arms), a multi-range pruned
  *    postings read, candidate ids joined back to the corpus for
  *    exact cosine, top-k window. Results are IDENTICAL to
  *    [[Similarity.ivfTopK]] / [[Similarity.ivfTopKTrained]] — same
  *    assignment, same probes, same cosine expression.
  *  - **Incremental maintenance from the corpus change feed**:
  *    [[maintainIvf]] absorbs commits past the index's txn cursor —
  *    inserts (and update postimages) are assigned and appended;
  *    DELETES (and update preimages) propagate as merge-on-read
  *    deletion-vector entries on the postings table
  *    ([[graft.catalog.LogStore.deleteKeysDV]] — the index dogfoods
  *    the table layer's own delete machinery), with DV pressure
  *    folded back by the maintain policy. O(changed rows) writes per
  *    sync, never a rebuild; the fence makes replays no-ops. */
object AnnIndex {

  final case class IvfIndex(centroidsRoot: String, postingsRoot: String)

  /** The persisted IVF-PQ (IVFADC) index: coarse centroids, the
    * residual product-quantizer codebook, and PQ-coded postings —
    * three transactional tables, fully self-contained (unlike the
    * deterministic [[IvfIndex]], every codebook vector is INDEX
    * state, so corpus churn can never orphan it). */
  final case class IvfPqIndex(centroidsRoot: String, pqbookRoot: String,
      postingsRoot: String)

  /** [[searchIvfPq]]'s result + its files-opened evidence on BOTH
    * tables: candidate scoring opened `postingsOpened` of
    * `postingsLive` posting segments (probe pruning), and the corpus
    * was opened ONLY for the final rerank set — `corpusOpened` of
    * `corpusLive` segments, bounded by the shortlist, never by the
    * candidate count. */
  final case class IvfPqScan(results: DataFrame, postingsOpened: Int,
      postingsLive: Int, corpusOpened: Int, corpusLive: Int)

  /** The rehydrated codebook, by policy. Deterministic cells carry
    * the centroid's corpus vec_id (vector fetched from the corpus);
    * trained cells carry the trained mean itself. */
  private sealed trait Codebook
  private final case class CorpusBook(
      cents: Array[(Long, Seq[Float], Double)]) extends Codebook
  private final case class TrainedBook(
      cents: Array[Seq[Double]]) extends Codebook

  private def withNorm(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding"),
      vec_norm(col("embedding")).as("nrm"))

  /** Collected rows rebuilt as a LocalRelation-backed DataFrame. The
    * search paths collect their probe / shortlist relations ONCE
    * (they are broadcast-sized by contract — every consumer is a
    * broadcast join side or a driver collect already) and re-inject
    * them locally: the broadcast build of a LocalRelation needs no
    * Spark job, where an eager localCheckpoint + a distinct-collect +
    * an RDD-backed broadcast build paid three. Values are the exact
    * rows Spark computed — no re-evaluation, no drift. */
  private def localDf(spark: SparkSession,
      rows: Array[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.toSeq.asJava, schema)
  }

  /** The deterministic codebook rows (cell_id, embedding, nrm) — the
    * first nCells corpus vectors by vec_id, collected driver-side
    * (k rows, bounded by construction). */
  private def codebookOf(corpus: DataFrame,
      nCells: Int): Array[(Long, Seq[Float], Double)] =
    withNorm(corpus).orderBy(col("vec_id")).limit(nCells)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2)))

  /** Cell assignment under the codebook's own metric — cosine argmax
    * for the deterministic book (ties to the LOWER cell id, the
    * ivfTopK rule), squared-L2 argmin for the trained book (the
    * kmAssign rule, identical IEEE term order). Long-typed. */
  private def assignExpr(book: Codebook): Column = book match {
    case CorpusBook(cents) =>
      def cellCos(cEmb: Seq[Float], cNrm: Double): Column =
        vec_dot(col("embedding"), typedLit(cEmb)) /
          (col("nrm") * lit(cNrm))
      -greatest(cents.map { case (cid, ce, cn) =>
        struct(cellCos(ce, cn).as("c"), lit(-cid).as("negid"))
      }: _*).getField("negid")
    case TrainedBook(cents) =>
      val vv = vec_dot(col("embedding"), col("embedding"))
      least(cents.zipWithIndex.map { case (c, cid) =>
        val cc = c.foldLeft(0.0)((a, x) => a + x * x)
        struct((vv - lit(2.0) * vec_dot(col("embedding"), typedLit(c)) +
          lit(cc)).as("d"), lit(cid.toLong).as("cid"))
      }: _*).getField("cid")
  }

  /** Squared-L2 distance to the NEAREST trained centroid — the same
    * struct-least and IEEE term order as [[assignExpr]]'s argmin, so
    * the drift metric measures exactly what the assignment does. */
  private def assignDistExpr(cents: Array[Seq[Double]]): Column = {
    val vv = vec_dot(col("embedding"), col("embedding"))
    least(cents.zipWithIndex.map { case (c, cid) =>
      val cc = c.foldLeft(0.0)((a, x) => a + x * x)
      struct((vv - lit(2.0) * vec_dot(col("embedding"), typedLit(c)) +
        lit(cc)).as("d"), lit(cid.toLong).as("cid"))
    }: _*).getField("d")
  }

  /** Per-query probe cells: a sorted (score, cell_id) struct array
    * sliced to nProbe — best-cosine-first for the deterministic book,
    * smallest-distance-first for the trained one (each the exact
    * expression of its in-memory twin). */
  private def probeStructs(book: Codebook): Column = book match {
    case CorpusBook(cents) =>
      array_sort(array(cents.map { case (cid, ce, cn) =>
        struct((-(vec_dot(col("embedding"), typedLit(ce)) /
          (col("nrm") * lit(cn)))).as("negc"),
          lit(cid).as("cell_id"))
      }: _*))
    case TrainedBook(cents) =>
      val qVv = vec_dot(col("embedding"), col("embedding"))
      array_sort(array(cents.zipWithIndex.map { case (c, cid) =>
        val cc = c.foldLeft(0.0)((a, x) => a + x * x)
        struct((qVv - lit(2.0) * vec_dot(col("embedding"),
          typedLit(c)) + lit(cc)).as("d"),
          lit(cid.toLong).as("cell_id"))
      }: _*))
  }

  /** Build the index tables under `dir` ("centroids" / "postings")
    * with the DETERMINISTIC first-nCells-by-id codebook. The postings
    * ingest is range-clustered on cell_id with one segment per task
    * file, so skipping works from the FIRST write — no post-hoc
    * OPTIMIZE. The index cursor (txn fence) records the corpus
    * version it covers, making [[maintainIvf]] exactly-once. */
  def buildIvf(spark: SparkSession, corpus: DataFrame,
      corpusVersion: Long, dir: String, nCells: Int = 16,
      postingSegments: Int = 8): IvfIndex = {
    require(nCells >= 2, s"nCells must be >= 2, got $nCells")
    val idx = IvfIndex(s"$dir/centroids", s"$dir/postings")
    val cents = codebookOf(corpus, nCells)
    val centRows = cents.map { case (cid, _, nrm) => (cid, cid, nrm) }
      .toSeq
    import spark.implicits._
    // independent tables, inputs driver-resident — overlap the tiny
    // centroids append with the clustered postings ingest (§2.6)
    par2(
      new LogStore(spark, idx.centroidsRoot,
        extraProps = Map("ivfPolicy" -> "deterministic",
          "ivfCells" -> nCells.toString))
        .append(centRows.toDF("cell_id", "vec_id", "nrm")),
      writePostings(spark, idx, corpus, CorpusBook(cents),
        corpusVersion, postingSegments))
    idx
  }

  /** [[buildIvf]] with a TRAINED coarse quantizer: the
    * [[Similarity.kMeansCentroids]] codebook (first-k-by-id init,
    * `iters` Lloyd rounds — deterministic), persisted as the
    * centroids table's OWN vectors with the training config in the
    * table properties. Search matches [[Similarity.ivfTopKTrained]]
    * exactly. */
  def buildIvfTrained(spark: SparkSession, corpus: DataFrame,
      corpusVersion: Long, dir: String, nCells: Int = 16,
      iters: Int = 2, postingSegments: Int = 8): IvfIndex = {
    require(nCells >= 2, s"nCells must be >= 2, got $nCells")
    val idx = IvfIndex(s"$dir/centroids", s"$dir/postings")
    val cents = Similarity.kMeansCentroids(
      corpus.select(col("vec_id"), col("embedding")), nCells, iters)
    import spark.implicits._
    // the drift-baseline probe + centroids append (sequential within:
    // the append records trainDist) and the postings ingest are
    // independent — overlap them (§2.6)
    par2({
      // the training-time assignment quality — the baseline the drift
      // trigger in [[maintainIvf]] compares incoming batches against
      val trainDist = withNorm(corpus)
        .select(avg(assignDistExpr(cents)).as("d")).head().getDouble(0)
      new LogStore(spark, idx.centroidsRoot,
        extraProps = Map("ivfPolicy" -> "trained",
          "ivfCells" -> nCells.toString, "ivfIters" -> iters.toString,
          "ivfTrainDist" -> trainDist.toString))
        .append(cents.zipWithIndex
          .map { case (c, cid) => (cid.toLong, c) }.toSeq
          .toDF("cell_id", "embedding"))
    }, writePostings(spark, idx, corpus, TrainedBook(cents),
      corpusVersion, postingSegments))
    idx
  }

  /** The shared postings ingest: assign under the book's metric,
    * range-cluster on cell_id, fence at the covered corpus version. */
  private def writePostings(spark: SparkSession, idx: IvfIndex,
      corpus: DataFrame, book: Codebook, corpusVersion: Long,
      postingSegments: Int): Unit = {
    val postings = withNorm(corpus)
      .withColumn("cell_id", assignExpr(book))
      .select(col("cell_id"), col("vec_id"), col("nrm"))
    val store = new LogStore(spark, idx.postingsRoot,
      statsCol = Some("cell_id"))
    store.create(postings.schema)
    postings.write.format("graft-log").option("path", idx.postingsRoot)
      .option("clusterBy", "cell_id")
      .option("clusterPartitions", postingSegments.toString)
      .mode("append").save()
    // the cursor: which corpus version this index covers
    store.commitFence(corpusVersion)
  }

  /** Absorb corpus commits past the index cursor: inserts and update
    * postimages are assigned under the persisted codebook and
    * appended; deletes and update preimages drop their postings as
    * DELETION-VECTOR entries ([[graft.catalog.LogStore.deleteKeysDV]]
    * — zero posting bytes rewritten), with vector pressure folded
    * back by the postings table's own maintain policy (re-clustered
    * on cell_id, so the files-opened economics survive compaction).
    * Everything lands behind ONE txn fence — a replay (or an
    * already-current index) is a no-op; the unfenced delete commit is
    * safe to replay because already-vectored rows never re-match.
    * A DETERMINISTIC codebook anchored on a now-deleted corpus vector
    * refuses loudly (its vector can no longer be fetched — rebuild,
    * or use the trained policy, whose centroids are index state).
    *
    * TRAINED codebooks also get a DRIFT-triggered retrain: the mean
    * squared-L2 assignment distance of the incoming batch is compared
    * against the training-time baseline recorded in the centroids
    * table's `ivfTrainDist` property — past `retrainDriftRatio`×
    * (distribution drift: recall would silently decay forever under
    * the stale codebook), the whole index is REBUILT from the current
    * corpus: new k-means centroids, postings reassigned, each table
    * replaced in ONE fenced generation-stamped commit (centroids
    * first). A crash between the two commits leaves the generations
    * diverged — [[searchIvf]] refuses loudly on that, and the next
    * maintainIvf call HEALS by finishing the postings rebuild from
    * the already-persisted codebook. Pass `retrainDriftRatio = 0` to
    * disable the trigger. Returns the corpus version now covered. */
  def maintainIvf(spark: SparkSession, corpusStore: LogStore,
      idx: IvfIndex, nCells: Int = 16,
      retrainDriftRatio: Double = 3.0): Long = {
    val postings = LogStore.configured(spark, idx.postingsRoot)
    val centStore = LogStore.configured(spark, idx.centroidsRoot)
    val cursor = math.max(postings.lastTxn(), -1L)
    val latest = corpusStore.latestVersion()
    val genC = centStore.recordedProp("ivfGen").map(_.toLong)
      .getOrElse(0L)
    val genP = postings.recordedProp("ivfGen").map(_.toLong)
      .getOrElse(0L)
    if (genC > genP)
      // a retrain crashed between its two commits: the new codebook
      // is persisted, its postings are not — finish the rebuild (the
      // feed is irrelevant; the rebuild covers the corpus at latest)
      return rebuildPostings(spark, corpusStore, idx,
        loadCodebook(spark, idx, corpusStore.read()), latest, genC)
    if (latest <= cursor) return cursor
    val changes = corpusStore.readChanges(cursor + 1, latest).cache()
    try {
      val removedKeys = changes
        .where(col("_change_type")
          .isin("delete", "update_preimage"))
        .select(col("vec_id")).distinct()
      // A multi-commit range can touch one vec_id several times
      // (insert-then-update, two upserts, insert-then-delete while
      // the cursor lagged). Appending every insert/postimage row
      // would land duplicate or orphan postings — intermediate
      // postimages are never vectored (removedKeys only clears
      // PRE-EXISTING postings), so a stale (cell_id, nrm) row would
      // make searchIvf rank the same neighbor twice. Reduce the feed
      // to the FINAL action per vec_id (latest commit; within one
      // commit an update's postimage outranks its preimage) and
      // append only keys whose final action still leaves a row.
      val added = lastActionPerKey(changes)
        .where(col("_change_type").isin("insert", "update_postimage"))
      // the gate aggregation (which also fills the cache) and the
      // codebook rehydration are independent — overlap them (§2.6);
      // one agg job answers both emptiness probes
      val ((anyRemoved, anyAdded), book) = par2(
        changeGate(changes),
        loadCodebook(spark, idx, corpusStore.read()))
      // drift gate — BEFORE any mutation: a drifted batch means the
      // codebook no longer describes the data; absorbing it
      // incrementally would bake the decay in (an empty batch has
      // batchDist 0 and can never trip the trigger — skip its job)
      book match {
        case TrainedBook(cents) if retrainDriftRatio > 0 && anyAdded =>
          val trainDist = centStore.recordedProp("ivfTrainDist")
            .map(_.toDouble).filter(_ > 0)
          trainDist.foreach { td =>
            val row = withNorm(added
              .select(col("vec_id"), col("embedding")))
              .select(avg(assignDistExpr(cents)).as("d")).head()
            val batchDist = if (row.isNullAt(0)) 0.0 else row.getDouble(0)
            if (batchDist > retrainDriftRatio * td) {
              System.err.println(s"[annindex] drift ${batchDist / td}x " +
                s"training baseline at ${idx.postingsRoot} — retraining")
              return retrainIvf(spark, corpusStore, idx, latest, genC)
            }
          }
        case _ => ()
      }
      book match {
        case CorpusBook(cents) if anyRemoved =>
          val centIds = cents.map(_._1)
          val hit = removedKeys
            .where(col("vec_id").isin(centIds.toSeq: _*))
            .limit(1).collect()
          if (hit.nonEmpty)
            throw new IllegalStateException(
              s"corpus vector ${hit.head.getLong(0)} anchors a " +
                "deterministic IVF centroid and was deleted — the " +
                "codebook can no longer be rehydrated from the " +
                "corpus; rebuild the index (or build with the " +
                "trained policy, whose centroids are index state)")
        case _ => () // trained centroids are index-owned state
      }
      if (anyRemoved) {
        postings.deleteKeysDV(removedKeys, Seq("vec_id"))
        // fold heavy vector debt back into clean cell-clustered
        // segments — the hands-off policy, dogfooded
        postings.maintainLayout(1L, dvFraction = 0.5,
          clusterBy = Seq(col("cell_id")))
      }
      val fresh = withNorm(added
        .select(col("vec_id"), col("embedding")))
        .withColumn("cell_id", assignExpr(book))
        .select(col("cell_id"), col("vec_id"), col("nrm"))
      val moved =
        if (!anyAdded) postings.commitFence(latest)
        else postings.appendStream(fresh, batchId = latest)
      if (moved < 0)
        throw new IllegalStateException(
          s"index cursor moved concurrently past $latest — two " +
            "maintenance drivers on one index")
      latest
    } finally changes.unpersist()
  }

  /** The DRIFTED-index retrain: new k-means codebook over the CURRENT
    * corpus (same recorded cells/iters config), postings reassigned,
    * each table replaced through ONE atomic
    * [[graft.catalog.LogStore.rebuildWithFence]] commit carrying the
    * bumped `ivfGen` stamp and (for centroids) the fresh
    * `ivfTrainDist` baseline. Centroids land FIRST: a crash between
    * the commits leaves generations diverged, which [[searchIvf]]
    * refuses loudly and the next [[maintainIvf]] heals — never a
    * silently-wrong probe against a half-rebuilt index. */
  private def retrainIvf(spark: SparkSession, corpusStore: LogStore,
      idx: IvfIndex, latest: Long, curGen: Long): Long = {
    val centStore = LogStore.configured(spark, idx.centroidsRoot)
    val nCells = centStore.recordedProp("ivfCells").map(_.toInt)
      .getOrElse(16)
    val iters = centStore.recordedProp("ivfIters").map(_.toInt)
      .getOrElse(2)
    val corpus = corpusStore.read()
    val cents = Similarity.kMeansCentroids(
      corpus.select(col("vec_id"), col("embedding")), nCells, iters)
    val trainDist = withNorm(corpus)
      .select(avg(assignDistExpr(cents)).as("d")).head().getDouble(0)
    import spark.implicits._
    val gen = curGen + 1
    centStore.rebuildWithFence(
      cents.zipWithIndex.map { case (c, cid) => (cid.toLong, c) }
        .toSeq.toDF("cell_id", "embedding"),
      batchId = latest, targetSegments = 1,
      setProps = Map("ivfGen" -> gen.toString,
        "ivfTrainDist" -> trainDist.toString))
    rebuildPostings(spark, corpusStore, idx, TrainedBook(cents),
      latest, gen)
  }

  /** The postings half of a rebuild: full reassignment of the current
    * corpus under `book`, range-clustered on cell_id (preserving the
    * files-opened probe economics), fenced at `latest` and stamped
    * with `gen` in one commit. Also the HEAL step after a crashed
    * retrain. */
  private def rebuildPostings(spark: SparkSession,
      corpusStore: LogStore, idx: IvfIndex, book: Codebook,
      latest: Long, gen: Long): Long = {
    val postings = LogStore.configured(spark, idx.postingsRoot)
    val df = withNorm(corpusStore.read())
      .withColumn("cell_id", assignExpr(book))
      .select(col("cell_id"), col("vec_id"), col("nrm"))
    val segs = math.max(postings.liveSegmentInfos().size, 1)
    postings.rebuildWithFence(df, batchId = latest,
      targetSegments = segs, clusterBy = Seq(col("cell_id")),
      setProps = Map("ivfGen" -> gen.toString))
    latest
  }

  /** The persisted codebook re-hydrated, by recorded policy: trained
    * centroids read back directly (k rows of index-owned vectors);
    * deterministic centroid ids resolved to their VECTORS from the
    * corpus (the index never duplicates corpus payloads). */
  private def loadCodebook(spark: SparkSession, idx: IvfIndex,
      corpus: DataFrame): Codebook = {
    val centStore = LogStore.configured(spark, idx.centroidsRoot)
    require(!centStore.recordedProp("ivfPolicy").contains("ivfpq"),
      s"${idx.centroidsRoot} belongs to an IVF-PQ index — search it " +
        "through searchIvfPq")
    val df = centStore.read()
    if (df.columns.contains("embedding")) {
      val rows = df.select(col("cell_id"), col("embedding"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
        .sortBy(_._1)
      require(rows.map(_._1).sameElements(rows.indices.map(_.toLong)),
        "trained codebook cell ids must be contiguous from 0")
      TrainedBook(rows.map(_._2.toSeq))
    } else {
      val centIds = df.select("cell_id", "vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val centVecs = withNorm(corpus)
        .where(col("vec_id").isin(centIds.values.toSeq: _*))
        .collect()
        .map(r => r.getLong(0) -> (r.getSeq[Float](1), r.getDouble(2)))
        .toMap
      CorpusBook(centIds.toSeq.sortBy(_._1).map { case (cid, vid) =>
        val (emb, nrm) = centVecs.getOrElse(vid,
          throw new IllegalStateException(
            s"centroid corpus vector $vid is gone — rebuild the index"))
        (cid, emb, nrm)
      }.toArray)
    }
  }

  /** Search through the PERSISTED index — `(results, opened, live)`:
    * `opened` is the number of posting segments the multi-range
    * pruned read actually opened, `live` the total — the
    * files-opened evidence a 100 TB probe hinges on. Results match
    * [[Similarity.ivfTopK]] (deterministic codebook) or
    * [[Similarity.ivfTopKTrained]] (trained codebook) exactly.
    *
    * FILTERED (hybrid) search: `corpusFilter` is an optional
    * predicate over the CORPUS columns (a keep-list flag, a language,
    * a dedup verdict — the first real query an LLM-pipeline user
    * asks is "top-k among docs WHERE …"). It is applied on the corpus
    * side of the candidate fetch join, so Catalyst pushes it into the
    * corpus scan and failing candidates never reach the cosine — NOT
    * post-filtering of a top-k, which silently returns < k. Because a
    * predicate thins every probed cell, `overProbe` widens the probe
    * to nProbe×overProbe cells so k survives filtering — recall
    * against the FILTERED brute-force truth is monotone in probed
    * cells (more cells = a superset of candidates). */
  def searchIvf(spark: SparkSession, idx: IvfIndex, corpus: DataFrame,
      queries: DataFrame, k: Int = 5, nProbe: Int = 4,
      corpusFilter: Option[Column] = None, overProbe: Int = 1)
      : (DataFrame, Int, Int) = {
    require(overProbe >= 1, s"overProbe must be >= 1, got $overProbe")
    // generation guard: a retrain replaces codebook and postings in
    // two commits — probing a new codebook against old assignments
    // (or vice versa) would return silently-wrong neighbors
    val genC = LogStore.configured(spark, idx.centroidsRoot)
      .recordedProp("ivfGen").map(_.toLong).getOrElse(0L)
    val genP = LogStore.configured(spark, idx.postingsRoot)
      .recordedProp("ivfGen").map(_.toLong).getOrElse(0L)
    require(genC == genP,
      s"index generations diverge (centroids $genC vs postings " +
        s"$genP) — a retrain was interrupted; run maintainIvf to heal")
    val book = loadCodebook(spark, idx, corpus)
    val probeCellsN = nProbe * overProbe
    val probesPlan = withNorm(queries)
      .withColumn("probe",
        explode(slice(probeStructs(book), 1, probeCellsN)))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("probe.cell_id").as("cell_id"))
    // ONE collect serves both consumers (the probed ranges and the
    // broadcast join side) — fused from eager-checkpoint +
    // distinct-collect + RDD broadcast build (3 jobs) into 1
    val probeRows = probesPlan.collect()
    val probes = localDf(spark, probeRows, probesPlan.schema)
    val probeCells = probeRows.map(_.getLong(3)).distinct.sorted
    // the pruned read: one multi-range skipping scan of the postings
    val postStore = LogStore.configured(spark, idx.postingsRoot)
    val (posted, opened, live) = postStore.readRanges(
      probeCells.map(c => (c.toString, c.toString)).toSeq)
    val candidates = posted
      .join(broadcast(probes), Seq("cell_id"))
      .where(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("q_emb"), col("q_nrm"),
        col("vec_id").as("neighbor_id"), col("nrm").as("c_nrm"))
    // exact cosine: neighbor vectors fetched from the corpus by id —
    // the hybrid predicate rides THIS scan (pushed down by Catalyst),
    // so filtered-out candidates never reach the cosine or the top-k
    val corpusSide = corpusFilter.fold(corpus)(corpus.where)
    val joined = candidates
      .join(corpusSide.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_emb")), Seq("neighbor_id"))
      .select(col("q_id").as("query_id"), col("neighbor_id"),
        (vec_dot(col("q_emb"), col("c_emb")) /
          (col("q_nrm") * col("c_nrm"))).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    (joined.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cos")),
      opened, live)
  }

  /** Reduce a multi-commit change-feed range to the FINAL action per
    * vec_id — latest commit wins; within one commit an update's
    * postimage outranks its preimage. Shared by every maintainer: a
    * lagging cursor's range can touch one key several times
    * (insert-then-update, two upserts, insert-then-delete), and
    * absorbing intermediate states would land duplicate or orphan
    * postings. */
  private def lastActionPerKey(changes: DataFrame): DataFrame = {
    val finality = when(
      col("_change_type") === "update_preimage", 0).otherwise(1)
    changes
      .withColumn("_rn", row_number().over(Window
        .partitionBy("vec_id")
        .orderBy(col("_commit_version").desc, finality.desc)))
      .where(col("_rn") === 1).drop("_rn")
  }

  /** ONE aggregation job answering both maintenance gates over a
    * change-feed range: does any key need its postings cleared (any
    * delete / update_preimage row), and does any key's FINAL action
    * leave a row to append. The final action per key follows
    * [[lastActionPerKey]] exactly — latest commit wins, a postimage
    * outranks its preimage within one commit; (commit, finality) is
    * unique per key, so the struct max picks the same row the window
    * would. Replaces two sequential limit-1 probe jobs. */
  private def changeGate(changes: DataFrame): (Boolean, Boolean) = {
    val finality = when(
      col("_change_type") === "update_preimage", 0).otherwise(1)
    val row = changes.groupBy(col("vec_id"))
      .agg(
        max(when(col("_change_type")
          .isin("delete", "update_preimage"), 1).otherwise(0)).as("rm"),
        max(struct(col("_commit_version").as("v"), finality.as("f"),
          col("_change_type").as("ct"))).as("last"))
      .agg(max(col("rm")).as("anyrm"),
        max(when(col("last.ct")
          .isin("insert", "update_postimage"), 1).otherwise(0))
          .as("anyadd"))
      .head()
    (!row.isNullAt(0) && row.getInt(0) == 1,
      !row.isNullAt(1) && row.getInt(1) == 1)
  }

  // ---------------------------------------------------------------
  // IVF-PQ (IVFADC) persisted: ADC candidate scoring from the INDEX
  // ALONE — the corpus is opened only for the final rerank set
  // ---------------------------------------------------------------

  /** The rehydrated IVF-PQ codebook state: coarse centroids by dense
    * POSITION (the [[Similarity.ivfPqTopK]] rule) plus the flattened
    * residual sub-codebooks — everything [[pqAssignExpr]]/encode/ADC
    * need, loaded from the index tables alone. */
  private[graft] final case class PqBook(cents: Array[(Seq[Float], Double)],
      centFlat: Seq[Double], cwFlat: Seq[Double], ccFlat: Seq[Double],
      m: Int, sub: Int, ksub: Int)

  private def pqCellCos(ce: Seq[Float], cn: Double): Column =
    vec_dot(col("embedding"), typedLit(ce)) / (col("nrm") * lit(cn))

  /** Per-row argmax cell as the dense centroid position — ties to the
    * lowest position, exactly [[Similarity.ivfPqTopK]]'s rule. */
  private[graft] def pqAssignExpr(book: PqBook): Column =
    (-greatest(book.cents.zipWithIndex.map { case ((ce, cn), pos) =>
      struct(pqCellCos(ce, cn).as("c"), lit(-pos).as("negpos"))
    }: _*).getField("negpos")).cast("int")

  /** [[pqAssignExpr]] replayed DRIVER-SIDE for rows already collected
    * (the build-time residual codebook head): the same sequential
    * double-accumulated dot product as [[graft.functions.VecDot]],
    * the same cos = dot / (nrm · cn) term order, Spark's nan-safe
    * double ordering (x == y covers -0.0 == 0.0; NaN greatest), and
    * greatest-of-(c, -pos)'s keep-FIRST-on-tie rule — so the argmax
    * is bit-identical to the expression's, without the second corpus
    * TakeOrdered job it used to cost. */
  private[graft] def assignPosDriver(emb: Seq[Float], nrm: Double,
      cents: Array[(Seq[Float], Double)]): Int = {
    def dot(a: Seq[Float], b: Seq[Float]): Double = {
      val n = math.min(a.length, b.length)
      var s = 0.0
      var i = 0
      while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    // Spark's double ordering: plain < / > when ordered, otherwise
    // x == y (which treats -0.0 == 0.0) → 0, else NaN is greatest
    def cmp(x: Double, y: Double): Int =
      if (x < y) -1 else if (x > y) 1 else if (x == y) 0
      else if (java.lang.Double.isNaN(x) && java.lang.Double.isNaN(y)) 0
      else if (java.lang.Double.isNaN(x)) 1 else -1
    var best = 0
    var bestC = dot(emb, cents(0)._1) / (nrm * cents(0)._2)
    var p = 1
    while (p < cents.length) {
      val c = dot(emb, cents(p)._1) / (nrm * cents(p)._2)
      if (cmp(c, bestC) > 0) { best = p; bestC = c }
      p += 1
    }
    best
  }

  /** Sorted (−cos, cell_pos) probe structs for the query side. */
  private def pqProbeStructs(book: PqBook): Column =
    array_sort(array(book.cents.zipWithIndex.map { case ((ce, cn), pos) =>
      struct((-pqCellCos(ce, cn)).as("negc"), lit(pos).as("cell_pos"))
    }: _*))

  /** Encode rows (vec_id, embedding, carry…) into the postings
    * relation (cell_id, vec_id, code_0..m-1, carry…) under `book` —
    * the residual PQ encode of [[Similarity.ivfPqTopK]], bit-identical
    * by shared expression. `carryCols` ride along unchanged: they are
    * the filter attributes a hybrid search evaluates index-alone. */
  private def pqEncodeRows(df: DataFrame, book: PqBook,
      carryCols: Seq[String] = Nil): DataFrame = {
    import graft.functions.PqFunctions.pq_encode_res
    // withNorm's projection would drop the carried attributes
    val assigned = df.select(Seq(col("vec_id"), col("embedding"),
        vec_norm(col("embedding")).as("nrm")) ++ carryCols.map(col): _*)
      .withColumn("cell_pos", pqAssignExpr(book))
    assigned
      .select(Seq(col("vec_id"), col("cell_pos"),
        pq_encode_res(col("embedding"), col("cell_pos"), book.m,
          book.sub, book.ksub, book.cwFlat, book.ccFlat, book.centFlat)
          .as("_codes")) ++ carryCols.map(col): _*)
      .select(col("cell_pos").cast("long").as("cell_id") +:
        col("vec_id") +:
        ((0 until book.m).map(j =>
          element_at(col("_codes"), j + 1).as(s"code_$j")) ++
          carryCols.map(col)): _*)
  }

  /** Build the PERSISTED IVF-PQ index (Jégou, Douze & Schmid's IVFADC,
    * TPAMI'11 §V — public; deterministic codebooks per this codebase's
    * policy, matching [[Similarity.ivfPqTopK]] exactly): under `dir`,
    *
    *  - `centroids`: (cell_id = dense position, embedding FLOAT[],
    *    nrm) — the coarse quantizer's vectors are INDEX state, so the
    *    codebook can never be orphaned by corpus churn;
    *  - `pqbook`: (sub_id, code_id, cw DOUBLE[], cc) — the m×ksub
    *    residual sub-codewords with their precomputed |c|²;
    *  - `postings`: (cell_id, vec_id, code_0..m−1, carry…),
    *    statsCol=cell_id, ingested CLUSTERED on cell_id — the
    *    m-BYTES-PER-VECTOR memory shape that makes billion-scale ANN
    *    fit, with the candidate SCORE computable from the postings
    *    alone (ADC): at 100 TB the per-query work is a pruned read of
    *    probed posting cells plus a corpus fetch of exactly the
    *    rerank set, never a scattered per-candidate corpus lookup.
    *
    * `carryCols` names scalar corpus columns copied into the postings
    * at encode time (a keep-list flag, a language, a dedup verdict) so
    * a FILTERED search can evaluate its predicate from the index
    * alone — the payload-filter shape every production vector store
    * converges on: at 100 TB a predicate that needed the corpus per
    * candidate would re-open scattered corpus segments on every probe.
    *
    * The index cursor (txn fence) records the corpus version covered,
    * making [[maintainIvfPq]] exactly-once (carried columns are
    * re-copied from the change feed on every sync). */
  def buildIvfPq(spark: SparkSession, corpus: DataFrame,
      corpusVersion: Long, dir: String, nCells: Int = 16, m: Int = 8,
      dims: Int = 64, ksub: Int = 32, postingSegments: Int = 8,
      carryCols: Seq[String] = Nil)
      : IvfPqIndex = {
    require(dims % m == 0, "dims must split evenly into m subspaces")
    require(nCells >= 2, s"nCells must be >= 2, got $nCells")
    val reservedPosting = Set("cell_id", "vec_id", "nrm", "cell_pos",
      "_codes", "embedding")
    carryCols.foreach { c =>
      require(!reservedPosting.contains(c) && !c.matches("code_\\d+"),
        s"carry column '$c' collides with a postings-schema name")
      val dt = corpus.schema(c).dataType
      val scalar = dt match {
        case _: org.apache.spark.sql.types.ArrayType |
             _: org.apache.spark.sql.types.MapType |
             _: org.apache.spark.sql.types.StructType => false
        case _ => true
      }
      require(scalar,
        s"carry column '$c' must be a scalar type for the clustered " +
          s"postings write, got $dt")
    }
    val sub = dims / m
    val idx = IvfPqIndex(s"$dir/centroids", s"$dir/pqbook",
      s"$dir/postings")
    // ONE head collect serves BOTH deterministic codebooks (guide
    // §1.2): the coarse cells are the first nCells corpus vectors by
    // vec_id and the residual sources the first ksub — a prefix of
    // the same ordered head, so the second corpus-scan TakeOrdered
    // job this used to pay carried no new information
    val head = withNorm(corpus).orderBy(col("vec_id"))
      .limit(math.max(nCells, ksub)).collect()
    val headRows = head.map(r => (r.getSeq[Float](1), r.getDouble(2)))
    val cents = headRows.take(nCells)
    require(cents.length == nCells,
      s"corpus has only ${cents.length} vectors; the deterministic " +
        s"first-$nCells codebook needs at least nCells = $nCells")
    // a zero-norm cell makes every cosine against it 0/0, which the
    // driver replay and the executor expression order differently
    // (NaN wins, NULL loses) or, under ANSI, refuse at encode
    head.take(nCells).foreach(r => require(r.getDouble(2) != 0.0,
      s"IVF-PQ coarse centroid vec_id ${r.get(0)} has a zero norm"))
    val centFlat: Seq[Double] = cents.toSeq.flatMap(_._1.map(_.toDouble))
    // residual codebook: the first ksub vectors' residuals w.r.t.
    // their own assigned cells (ivfPqTopK's construction; the argmax
    // is [[pqAssignExpr]] replayed driver-side — same sequential
    // double dot product, same nan-safe double ordering, same
    // keep-first tie, so the assignment is bit-identical)
    val cbRows = headRows.take(ksub)
      .map { case (emb, nrm) => (emb, assignPosDriver(emb, nrm, cents)) }
    require(cbRows.length == ksub,
      s"corpus has only ${cbRows.length} vectors; the deterministic " +
        s"first-$ksub residual codebook needs at least ksub = $ksub")
    def resOf(emb: Seq[Float], pos: Int): IndexedSeq[Double] =
      (0 until dims).map(d => emb(d).toDouble - centFlat(pos * dims + d))
    val cbRes = cbRows.map { case (emb, pos) => resOf(emb, pos) }
    def cw(j: Int, i: Int): Seq[Double] =
      cbRes(i).slice(j * sub, (j + 1) * sub)
    val cwFlat: Seq[Double] = for {
      j <- 0 until m; i <- 0 until ksub; x <- cw(j, i)
    } yield x
    val ccFlat: Seq[Double] = for {
      j <- 0 until m; i <- 0 until ksub
    } yield cw(j, i).foldLeft(0.0)((a, x) => a + x * x)
    val book = PqBook(cents, centFlat, cwFlat, ccFlat, m, sub, ksub)
    import spark.implicits._
    // the three index tables are INDEPENDENT (own roots, own logs) and
    // everything they need is already driver-resident — overlap the
    // two tiny codebook appends with the corpus-sized clustered
    // postings ingest (§2.6: their jobs back-fill its tail)
    par2(
      par2(
        new LogStore(spark, idx.centroidsRoot,
          extraProps = Map("ivfPolicy" -> "ivfpq",
            "ivfCells" -> nCells.toString, "pqM" -> m.toString,
            "pqKsub" -> ksub.toString, "pqDims" -> dims.toString))
          .append(cents.toSeq.zipWithIndex
            .map { case ((emb, nrm), pos) => (pos.toLong, emb, nrm) }
            .toDF("cell_id", "embedding", "nrm")),
        new LogStore(spark, idx.pqbookRoot)
          .append((for { j <- 0 until m; i <- 0 until ksub } yield
            (j.toLong, i.toLong, cw(j, i), ccFlat(j * ksub + i)))
            .toDF("sub_id", "code_id", "cw", "cc"))), {
        val postings = pqEncodeRows(corpus.select(
          (Seq("vec_id", "embedding") ++ carryCols).map(col): _*),
          book, carryCols)
        val store = new LogStore(spark, idx.postingsRoot,
          statsCol = Some("cell_id"))
        store.create(postings.schema)
        postings.write.format("graft-log")
          .option("path", idx.postingsRoot)
          .option("clusterBy", "cell_id")
          .option("clusterPartitions", postingSegments.toString)
          .mode("append").save()
        store.commitFence(corpusVersion)
      })
    idx
  }

  /** The persisted IVF-PQ codebook, rehydrated from the index tables
    * alone (bounded collects: nCells + m·ksub rows). */
  private def loadPqBook(spark: SparkSession, idx: IvfPqIndex)
      : PqBook = {
    val centStore = LogStore.configured(spark, idx.centroidsRoot)
    require(centStore.recordedProp("ivfPolicy").contains("ivfpq"),
      s"${idx.centroidsRoot} is not an IVF-PQ index")
    val m = centStore.recordedProp("pqM").map(_.toInt).getOrElse(8)
    val ksub = centStore.recordedProp("pqKsub").map(_.toInt).getOrElse(32)
    val dims = centStore.recordedProp("pqDims").map(_.toInt).getOrElse(64)
    val sub = dims / m
    // the two codebook tables are independent — overlap their
    // driver-blocking collects (§2.6)
    val (centRows, bookRows) = par2(
      centStore.read()
        .select(col("cell_id"), col("embedding"), col("nrm"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2)))
        .sortBy(_._1),
      LogStore.configured(spark, idx.pqbookRoot).read()
        .select(col("sub_id"), col("code_id"), col("cw"), col("cc"))
        .collect()
        .map(r => ((r.getLong(0), r.getLong(1)),
          (r.getSeq[Double](2), r.getDouble(3))))
        .toMap)
    require(centRows.map(_._1).sameElements(
        centRows.indices.map(_.toLong)),
      "IVF-PQ codebook cell ids must be contiguous from 0")
    centRows.foreach(r => require(r._3 != 0.0,
      s"IVF-PQ coarse centroid cell_id ${r._1} has a zero norm"))
    val cents = centRows.map(r => (r._2, r._3))
    val centFlat: Seq[Double] = cents.toSeq.flatMap(_._1.map(_.toDouble))
    require(bookRows.size == m * ksub,
      s"pqbook holds ${bookRows.size} codewords, expected ${m * ksub}")
    val cwFlat: Seq[Double] = for {
      j <- 0 until m; i <- 0 until ksub
      x <- bookRows((j.toLong, i.toLong))._1
    } yield x
    val ccFlat: Seq[Double] = for { j <- 0 until m; i <- 0 until ksub }
      yield bookRows((j.toLong, i.toLong))._2
    PqBook(cents, centFlat, cwFlat, ccFlat, m, sub, ksub)
  }

  /** Search through the persisted IVF-PQ index. Results match
    * [[Similarity.ivfPqTopK]] exactly (same assignment, probes,
    * residual ADC, shortlist, exact-cosine rerank). The 100 TB shape
    * this exists for: candidate SCORING reads only the probed posting
    * cells (pruned by the clustered cell_id stats — never the
    * corpus), and the corpus is opened solely to fetch the ≤
    * queries×shortlist rerank vectors, by a stats-pruned id-range
    * read against `corpusStore` — `corpusOpened ∝ rerank set`, the
    * difference between re-reading kilobytes and re-reading the
    * table per query batch.
    *
    * FILTERED (hybrid) search: `postingsFilter` is an optional
    * predicate over the CARRIED posting columns ([[buildIvfPq]]'s
    * `carryCols`) evaluated on the postings scan itself — BEFORE the
    * ADC shortlist window, so a passing candidate is never displaced
    * from the shortlist by a filtered-out one and the result is
    * never a post-filtered top-k that silently returns < k. Unlike
    * [[searchIvf]]'s corpus-side predicate, this one never touches
    * the corpus at all until the exact-cosine rerank: at 100 TB the
    * filter costs m-bytes-plus-attrs per probed candidate, not a
    * scattered corpus lookup. `overProbe` widens the probe to
    * nProbe×overProbe cells so k survives a thinning predicate. */
  def searchIvfPq(spark: SparkSession, idx: IvfPqIndex,
      corpusStore: LogStore, queries: DataFrame, k: Int = 5,
      nProbe: Int = 4, shortlist: Int = 50,
      postingsFilter: Option[Column] = None, overProbe: Int = 1)
      : IvfPqScan = {
    require(overProbe >= 1, s"overProbe must be >= 1, got $overProbe")
    val book = loadPqBook(spark, idx)
    import graft.functions.PqFunctions.pq_adc_tables_res
    // the query embedding + norm ride the probe rows so the rerank's
    // query side comes from THIS one collect too (it used to re-scan
    // `queries` for its broadcast build)
    val probesPlan = withNorm(queries)
      .withColumn("probe",
        explode(slice(pqProbeStructs(book), 1, nProbe * overProbe)))
      .select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"), col("nrm").as("q_nrm"),
        col("probe.cell_pos").cast("int").as("cell_pos"),
        pq_adc_tables_res(col("embedding"),
          col("probe.cell_pos").cast("int"), book.m, book.sub,
          book.ksub, book.cwFlat, book.ccFlat, book.centFlat)
          .as("_qds"))
      .select(col("query_id") +: col("q_emb") +: col("q_nrm") +:
        col("cell_pos").cast("long").as("cell_id") +:
        (0 until book.m).map(j =>
          element_at(col("_qds"), j + 1).as(s"qd_$j")): _*)
    // ONE collect serves the probed ranges, the ADC broadcast side
    // AND the rerank's query side — fused from eager-checkpoint +
    // distinct-collect + two broadcast builds
    val probeRows = probesPlan.collect()
    val probes = localDf(spark, probeRows, probesPlan.schema)
      .drop("q_emb", "q_nrm")
    val queriesLocal = localDf(spark,
      probeRows.groupBy(_.getLong(0)).map(_._2.head).toArray,
      probesPlan.schema)
      .select(col("query_id").as("vec_id"), col("q_emb").as("embedding"),
        col("q_nrm").as("nrm"))
    val probeCells = probeRows.map(_.getLong(3)).distinct.sorted
    val postStore = LogStore.configured(spark, idx.postingsRoot)
    val (posted, pOpened, pLive) = postStore.readRanges(
      probeCells.map(c => (c.toString, c.toString)).toSeq)
    // ADC from the INDEX ALONE: per-candidate work is m element_at
    // picks + a fixed-order m-term sum over the broadcast per-query
    // tables — no corpus column is touched here
    val adc = (0 until book.m).map(j =>
      element_at(col(s"qd_$j"), col(s"code_$j") + 1)).reduceLeft(_ + _)
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_dist").asc, col("neighbor_id").asc)
    // the hybrid predicate rides the postings scan — index-alone,
    // applied before the shortlist window
    val slPlan = postingsFilter.fold(posted)(posted.where)
      .join(broadcast(probes), Seq("cell_id"))
      .where(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        adc.as("approx_dist"))
      .withColumn("rn", row_number().over(ws))
      .where(col("rn") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))
    // ONE collect (bounded: ≤ queries × shortlist) serves the pruned
    // corpus fetch AND the rerank join side — fused from
    // eager-checkpoint + distinct-collect
    val slRows = slPlan.collect()
    val sl = localDf(spark, slRows, slPlan.schema)
    // corpus fetch for the RERANK SET ONLY: a multi-point stats-pruned
    // read on vec_id
    val ids = slRows.map(_.getLong(1)).distinct.sorted
    val (fetched, cOpened, cLive) =
      if (ids.isEmpty) (corpusStore.read().limit(0), 0,
        corpusStore.liveSegmentInfos().size)
      else corpusStore.readRanges(
        ids.map(i => (i.toString, i.toString)).toSeq)
    val scored = sl
      .join(withNorm(fetched.select(col("vec_id"), col("embedding")))
        .as("c"), col("neighbor_id") === col("c.vec_id"))
      .join(broadcast(queriesLocal.as("q")),
        col("query_id") === col("q.vec_id"))
      .select(col("query_id"), col("neighbor_id"),
        (vec_dot(col("q.embedding"), col("c.embedding")) /
          (col("q.nrm") * col("c.nrm"))).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    IvfPqScan(scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id")),
      pOpened, pLive, cOpened, cLive)
  }

  /** Absorb corpus commits past the IVF-PQ index cursor — the
    * [[maintainIvf]] discipline with CODES carried through: the feed
    * reduces to the final action per vec_id, deletes and update
    * preimages land as deletion-vector entries on the postings,
    * inserts and postimages are ENCODED under the persisted codebook
    * (coarse assign + residual PQ — the codes ride the postings, so
    * search never needs the corpus for scoring) and appended behind
    * one txn fence. The codebook itself is index-owned state —
    * corpus deletes can never orphan it (the deterministic IVF's
    * anchored-centroid refusal has no analogue here). O(changed rows)
    * writes per sync; replays are no-ops. */
  def maintainIvfPq(spark: SparkSession, corpusStore: LogStore,
      idx: IvfPqIndex): Long = {
    val postings = LogStore.configured(spark, idx.postingsRoot)
    val cursor = math.max(postings.lastTxn(), -1L)
    val latest = corpusStore.latestVersion()
    if (latest <= cursor) return cursor
    val changes = corpusStore.readChanges(cursor + 1, latest).cache()
    try {
      val removedKeys = changes
        .where(col("_change_type").isin("delete", "update_preimage"))
        .select(col("vec_id")).distinct()
      val added = lastActionPerKey(changes)
        .where(col("_change_type").isin("insert", "update_postimage"))
      // the gate aggregation (which also fills the cache) and the
      // codebook-table collects are independent — overlap them
      // (§2.6); one agg job answers both emptiness probes
      val ((anyRemoved, anyAdded), book) = par2(
        changeGate(changes), loadPqBook(spark, idx))
      if (anyRemoved) {
        postings.deleteKeysDV(removedKeys, Seq("vec_id"))
        postings.maintainLayout(1L, dvFraction = 0.5,
          clusterBy = Seq(col("cell_id")))
      }
      // carried filter attributes are whatever the postings schema
      // holds beyond the IVFADC core — re-copied from the change feed
      // so a hybrid predicate stays correct across maintenance
      val carry = postings.read().schema.fieldNames.toSeq
        .filterNot(n => n == "cell_id" || n == "vec_id" ||
          n.matches("code_\\d+"))
      val missingCarry = carry.filterNot(added.columns.contains)
      require(missingCarry.isEmpty,
        s"the corpus change feed lacks carried posting column(s) " +
          s"${missingCarry.mkString(", ")} — carryCols must be " +
          "corpus columns")
      val fresh = pqEncodeRows(added.select(
        (Seq("vec_id", "embedding") ++ carry).map(col): _*),
        book, carry)
      val moved =
        if (!anyAdded) postings.commitFence(latest)
        else postings.appendStream(fresh, batchId = latest)
      if (moved < 0)
        throw new IllegalStateException(
          s"index cursor moved concurrently past $latest — two " +
            "maintenance drivers on one index")
      latest
    } finally changes.unpersist()
  }
}
