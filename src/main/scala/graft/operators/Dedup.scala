package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators over a `documents(doc_id, text)` table, from
  * exact through three families of near-dup detection. Scale design:
  *
  *  - exact + fingerprint dedup: one hash-groupBy — the shuffle key is the
  *    16-byte digest, not the document body, so 100 TB of text shuffles
  *    only ~(n_docs × 16 B).
  *  - MinHash/LSH: ONE explode pass builds the long-form (doc, shingle)
  *    relation; k seeded re-hashes aggregate to k minhashes in a single
  *    groupBy (no per-column shingle recomputation); candidate pairs come
  *    from a self-join on (band, band_hash) — documents only meet if they
  *    collide in a band; exact Jaccard is recomputed ONLY for candidates.
  *  - n-gram Jaccard: inverted-index self-join on a 64-bit shingle key
  *    (8-byte shuffle key, not the shingle text).
  *  - SimHash: 32-bit signature; candidate pairs via 4×8-bit band
  *    self-join (pigeonhole: Hamming ≤ 3 ⇒ at least one band equal),
  *    exact Hamming verified on candidates.
  *
  * Determinism contract for oracle parity: emitted hashes are md5 hex
  * strings, mins are lexicographic on hex, ratios are single IEEE
  * divisions of exact integers. (Internal join keys may use xxhash64 —
  * they never appear in output.)
  */
object Dedup {

  /** Word w-shingles (default w=3) of lowercased whitespace tokens,
    * distinct per document. Native one-pass expression ([[
    * graft.functions.WordShingles]]) — the equivalent `transform` +
    * `slice` + `concat_ws` + `array_distinct` chain interprets five
    * collection expressions per window. */
  def shingles(text: Column, w: Int = 3): Column =
    graft.functions.TextFunctions.word_shingles(text, w)

  /** Long-form distinct RAW shingles: one row per (doc_id, shingle).
    * Single explode pass over the native per-document shingle array. */
  def docShinglesRaw(documents: DataFrame, w: Int = 3): DataFrame =
    documents.select(col("doc_id"),
      explode(shingles(col("text"), w)).as("shingle"))

  /** Long-form distinct shingle digests: (doc_id, sh = md5(shingle)).
    * The md5 form is SEMANTIC for MinHash (signatures are mins over
    * md5s, replicated by the oracle); operators that only need equality
    * on shingles (inverted-index candidate generation, contamination)
    * should use [[docShinglesRaw]] + a cheap 64-bit join key instead of
    * paying an md5 per shingle. */
  def docShingles(documents: DataFrame, w: Int = 3): DataFrame =
    docShinglesRaw(documents, w)
      .select(col("doc_id"), md5(col("shingle")).as("sh"))

  /** Exact dedup: group identical bodies by digest; emit one keeper (min
    * doc_id) + duplicate count per distinct text. */
  def exact(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("dup_count"))

  /** MinHash signatures in ONE aggregation over the long form:
    * minhash_i = lexicographic min over shingles of md5(i || '|' || sh).
    * Seeded re-hashing simulates k independent permutations without RNG. */
  def withMinhashes(docSh: DataFrame, k: Int = 8): DataFrame = {
    val aggs = (0 until k).map { i =>
      min(md5(concat(lit(s"$i|"), col("sh")))).as(s"minhash_$i")
    }
    docSh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH band buckets: b bands of r rows (k = b*r); band hash = md5 of
    * the concatenated minhashes. Long-form (doc_id, band, band_hash). */
  def lshBuckets(minhashed: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandStructs = (0 until bands).map { b =>
      val parts =
        (0 until rowsPerBand).map(r => col(s"minhash_${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), md5(concat_ws("|", parts: _*)).as("band_hash"))
    }
    minhashed
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.band_hash").as("band_hash"))
  }

  /** MinHash-LSH near-dup pairs, verified with exact Jaccard ≥ threshold. */
  def minhashLshPairs(documents: DataFrame, k: Int = 8, bands: Int = 4,
      w: Int = 3, threshold: Double = 0.5): DataFrame = {
    // eager materialization (not lazy .cache()): the bucket self-join
    // and the Jaccard verify consume these on multiple branches at once,
    // and concurrent first-touch cache fills race badly at high
    // parallelism; localCheckpoint(eager) fills blocks exactly once.
    // (The signature checkpoint looks redundant next to ReusedExchange,
    // but downstream consumers — the clustering union-find iterates
    // over these pairs — re-traverse the plan several times, and
    // dropping it measurably regresses them.)
    val docSh = docShingles(documents, w).localCheckpoint(true)
    val buckets = lshBuckets(withMinhashes(docSh, k).localCheckpoint(true),
      bands, k / bands)
    val candidates = buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    jaccardOf(docSh, candidates).where(col("jaccard") >= threshold)
  }

  /** MinHash Jaccard ESTIMATION audited against the exact value — the
    * property that justifies MinHash dedup at all: P[minhash_i(A) =
    * minhash_i(B)] = J(A,B), so the fraction of agreeing signature
    * slots is an unbiased k-sample estimate of the true Jaccard. This
    * operator computes BOTH for every LSH candidate pair: `est` (slot
    * agreement / k), `jaccard` (exact, from the full shingle sets), and
    * their absolute error — the per-pair audit that calibrates how many
    * hashes a corpus needs before trusting estimate-only dedup at
    * scale, where exact verification of every pair is unaffordable.
    *
    * Scale: pairs come from the banded candidate join (never all
    * pairs); the agreement count joins two k-column signature rows per
    * pair — k×16-byte rows, not documents. Deterministic: the same
    * seeded md5 re-hash signatures as [[minhashLshPairs]]. */
  def minhashEstimatePairs(documents: DataFrame, k: Int = 8,
      bands: Int = 4, w: Int = 3): DataFrame = {
    val docSh = docShingles(documents, w).localCheckpoint(true)
    val sigs = withMinhashes(docSh, k).localCheckpoint(true)
    val buckets = lshBuckets(sigs, bands, k / bands)
    val candidates = buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val agree = (0 until k).map(i =>
      when(col(s"sa.minhash_$i") === col(s"sb.minhash_$i"), 1)
        .otherwise(0)).reduceLeft(_ + _)
    val est = candidates
      .join(sigs.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sigs.as("sb"), col("id_b") === col("sb.doc_id"))
      .select(col("id_a"), col("id_b"),
        (agree.cast("double") / lit(k).cast("double")).as("est"))
    jaccardOf(docSh, candidates)
      .join(est, Seq("id_a", "id_b"))
      .select(col("id_a"), col("id_b"), col("est"), col("jaccard"),
        abs(col("est") - col("jaccard")).as("abs_err"))
  }

  /** b-bit minhash similarity (Li & König, WWW 2010, public): keep
    * only the lowest b=4 bits (the final hex nibble) of each of the k
    * minhashes — 1/8 the signature storage of [[minhashEstimatePairs]]
    * — and correct the agreement rate for random nibble collisions:
    * sim ≈ (rate − 2⁻ᵇ) / (1 − 2⁻ᵇ). At 100 TB the signature table is
    * the thing you materialize and re-join constantly; shrinking it 8×
    * while keeping the estimator unbiased is the whole point of the
    * paper. Candidates still come from the full-width banded LSH (the
    * bit truncation applies to the ESTIMATOR, not candidate recall);
    * output carries the exact Jaccard and |error| per pair so the
    * trade is auditable. Constants 2⁻⁴ = 0.0625 and 15/16 = 0.9375 are
    * exact binary doubles — the correction introduces no rounding. */
  def bbitMinhashPairs(documents: DataFrame, k: Int = 8,
      bands: Int = 4, w: Int = 3): DataFrame = {
    val docSh = docShingles(documents, w).localCheckpoint(true)
    val sigs = withMinhashes(docSh, k).localCheckpoint(true)
    val buckets = lshBuckets(sigs, bands, k / bands)
    val candidates = buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val agree = (0 until k).map(i =>
      when(substring(col(s"sa.minhash_$i"), 32, 1) ===
          substring(col(s"sb.minhash_$i"), 32, 1), 1)
        .otherwise(0)).reduceLeft(_ + _)
    val est = candidates
      .join(sigs.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sigs.as("sb"), col("id_b") === col("sb.doc_id"))
      .select(col("id_a"), col("id_b"),
        ((agree.cast("double") / lit(k).cast("double")) - lit(0.0625))
          ./(lit(0.9375)).as("b4_est"))
    jaccardOf(docSh, candidates)
      .join(est, Seq("id_a", "id_b"))
      .select(col("id_a"), col("id_b"), col("b4_est"), col("jaccard"),
        abs(col("b4_est") - col("jaccard")).as("abs_err"))
  }

  /** Exact n-gram Jaccard over co-shingled pairs (no LSH): pairs that
    * share ≥1 shingle, scored |∩| / |∪|. The inverted-index self-join on
    * a 64-bit shingle key avoids the n² cross product — only docs sharing
    * a shingle ever meet.
    *
    * `maxShingleDf` is the hot-key guard for corpus scale: a stopword
    * shingle shared by (nearly) every document makes the self-join emit
    * O(n²) rows from that single key — the classic inverted-index
    * failure mode at 100 TB. With a cap, shingles whose document
    * frequency exceeds it are excluded from CANDIDATE GENERATION only;
    * the exact Jaccard verify still runs on the FULL shingle sets, so
    * every reported score is unchanged. The trade (documented recall):
    * a pair whose only shared shingles are ultra-common is missed —
    * such pairs score near zero and never pass a meaningful threshold
    * anyway. */
  def ngramJaccardPairs(documents: DataFrame, w: Int = 3,
      threshold: Double = 0.5,
      maxShingleDf: Option[Long] = None): DataFrame = maxShingleDf match {
    case None =>
      // equality on shingles only → skip the md5 entirely: xxhash64 of
      // the raw shingle is the 8-byte join key (the output exposes no
      // hashes, so this is invisible to results; at ~1e12 distinct
      // shingles move to a 128-bit key — birthday bound)
      val docSh = docShinglesRaw(documents, w)
        .select(col("doc_id"), xxhash64(col("shingle")).as("shk"))
        .localCheckpoint(true)
      val sizes = docSh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      val common = docSh.as("a")
        .join(docSh.as("b"),
          col("a.shk") === col("b.shk") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(count(lit(1)).as("n_common"))
      common
        .join(broadcast(sizes).as("sa"), col("id_a") === col("sa.doc_id"))
        .join(broadcast(sizes).as("sb"), col("id_b") === col("sb.doc_id"))
        .select(col("id_a"), col("id_b"),
          (col("n_common").cast("double") /
            (col("sa.n_sh") + col("sb.n_sh") - col("n_common")).cast("double"))
            .as("jaccard"))
        .where(col("jaccard") >= threshold)
    case Some(cap) =>
      val docSh = docShinglesRaw(documents, w)
        .select(col("doc_id"), col("shingle").as("sh"))
        .localCheckpoint(true)
      val keyed = docSh.select(col("doc_id"), xxhash64(col("sh")).as("shk"))
      // df per shingle key, capped: the semi-join shuffles only 8-byte
      // keys; the hot keys (tiny set, huge row counts) never reach the
      // pair-generating self-join
      val rareKeys = keyed.groupBy("shk")
        .agg(count(lit(1)).as("df")).where(col("df") <= cap)
        .select("shk")
      val indexed = keyed.join(rareKeys, Seq("shk"), "left_semi")
      val candidates = indexed.as("a")
        .join(indexed.as("b"),
          col("a.shk") === col("b.shk") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct()
      jaccardOf(docSh, candidates).where(col("jaccard") >= threshold)
  }

  /** Exact θ-Jaccard join via PREFIX FILTERING (the AllPairs / PPJoin
    * family: Chaudhuri et al. SSJoin '06, Bayardo et al. WWW'07, Xiao
    * et al. WWW'08 — public algorithms). Same output as
    * [[ngramJaccardPairs]] with no df cap, but the candidate join
    * indexes only each document's PREFIX — its `|d| − ⌈t·|d|⌉ + 1`
    * globally-rarest shingles — instead of all of them:
    *
    *  - a global document-frequency pass orders shingles rarest-first
    *    (total order `(df, shk)`; equal keys are the same shingle);
    *  - prefix-filter lemma: `J(A,B) ≥ t ⟹ |A∩B| ≥ ⌈t·max(|A|,|B|)⌉`,
    *    so the two prefixes MUST share a shingle — no candidate is ever
    *    missed and the verify step on full sets makes the join exact;
    *  - the length filter `t·|b| ≤ |a| ≤ |b|/t` is applied inside the
    *    candidate join (both sides carry their set size).
    *
    * Scale contrast with the full inverted index: stopword shingles have
    * maximal df, so they sort LAST and almost never land in a prefix —
    * the hot-key n² blowup the df-cap guards against in
    * [[ngramJaccardPairs]] structurally cannot happen here, *without*
    * sacrificing completeness. Index size drops from Σ|d| to
    * Σ(1−t)|d|+1 entries (≥50% smaller at t=0.5, and the entries kept
    * are precisely the low-df ones that join cheaply). */
  /** The (ranked long form, prefix index) pair behind
    * [[prefixJaccardPairs]] — exposed so the scale harness can count
    * candidate occupancy on the EXACT production index, not a
    * re-derivation that could drift. */
  private[graft] def prefixIndex(documents: DataFrame, w: Int,
      threshold: Double): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val docSh = docShinglesRaw(documents, w)
      .select(col("doc_id"), xxhash64(col("shingle")).as("shk"))
      .localCheckpoint(true)
    // df via a shk-partitioned window — the same single exchange a
    // groupBy would pay, but with no join back to re-attach the count;
    // both doc_id windows then share the second exchange
    val byKey = Window.partitionBy("shk")
    val byDoc = Window.partitionBy("doc_id")
    val ranked = docSh
      .withColumn("df", count(lit(1)).over(byKey))
      .withColumn("n_sh", count(lit(1)).over(byDoc))
      .withColumn("rk",
        row_number().over(byDoc.orderBy(col("df"), col("shk"))))
    val prefix = ranked
      .where(col("rk") <=
        col("n_sh") - ceil(lit(threshold) * col("n_sh")) + lit(1))
      .select(col("doc_id"), col("shk"), col("n_sh"), col("rk"))
    (ranked, prefix)
  }

  /** Σ_buckets c·(c−1)/2 over the given bucket keys — a self-join's
    * pre-filter candidate-pair count. Shared by every scale-harness
    * occupancy counter so there is exactly one definition of the
    * number ScaleGrowthSpec bounds. */
  private[graft] def bucketPairCount(df: DataFrame,
      keys: Seq[String]): Long = {
    val twice = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c") * (col("c") - 1)), lit(0L)))
      .head().getLong(0)
    twice / 2
  }

  /** Diagnostic (scale harness): Σ_shk c·(c−1)/2 over the prefix
    * index — the candidate join's pre-filter pair count. Sub-quadratic
    * growth of THIS number is what makes prefix filtering a 100 TB
    * design rather than an n² one. */
  def prefixCandidateCount(documents: DataFrame, w: Int = 3,
      threshold: Double = 0.5): Long = {
    val (_, prefix) = prefixIndex(documents, w, threshold)
    bucketPairCount(prefix, Seq("shk"))
  }

  def prefixJaccardPairs(documents: DataFrame, w: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val (ranked, prefix) = prefixIndex(documents, w, threshold)
    // PPJoin's POSITIONAL filter (Xiao et al. WWW'08) on top of the
    // prefix+length filters: for a collision at prefix ranks (rk_a,
    // rk_b), the overlap can never exceed 1 + min(|A|−rk_a, |B|−rk_b),
    // while J ≥ t requires |A∩B| ≥ t/(1+t)·(|A|+|B|). A pair survives
    // if ANY of its collisions passes — a superset of PPJoin's
    // first-collision rule, so completeness is untouched (the
    // equivalence-to-brute-force spec pins it). On the sf0.1 fixture
    // this prunes the candidate set 2.5× (310k → 125k pairs) before
    // the distinct and the array verify — candidate volume, not the
    // verify arrays, is where this operator's time goes.
    val alpha = ceil(lit(threshold / (1 + threshold)) *
      (col("a.n_sh") + col("b.n_sh")))
    val candidates = prefix.as("a")
      .join(prefix.as("b"),
        col("a.shk") === col("b.shk") &&
          col("a.doc_id") < col("b.doc_id") &&
          lit(threshold) * col("b.n_sh") <= col("a.n_sh") &&
          lit(threshold) * col("a.n_sh") <= col("b.n_sh") &&
          lit(1) + least(col("a.n_sh") - col("a.rk"),
            col("b.n_sh") - col("b.rk")) >= alpha)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    // verify on the FULL shingle sets — reported scores are exact.
    // Sets travel as one sorted array per doc, and |∩| is a per-row
    // array_intersect on the candidate pairs only — cheaper than
    // re-joining the long-form relation twice and re-aggregating,
    // because candidates ≪ corpus. Packing aggregates the RANKED frame,
    // not the checkpoint: it is already hash-partitioned by doc_id from
    // the window above, so the groupBy plans with NO new exchange, and
    // the two upstream exchanges are shared with the prefix branch as
    // ReusedExchange nodes.
    val packed = ranked.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("shk"))).as("shks"),
        count(lit(1)).as("n_sh"))
    candidates
      .join(packed.as("pa"), col("id_a") === col("pa.doc_id"))
      .join(packed.as("pb"), col("id_b") === col("pb.doc_id"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("pa.shks"), col("pb.shks")))
          .cast("long").as("n_common"),
        col("pa.n_sh").as("na"), col("pb.n_sh").as("nb"))
      .select(col("id_a"), col("id_b"),
        (col("n_common").cast("double") /
          (col("na") + col("nb") - col("n_common")).cast("double"))
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Asymmetric shingle containment: `c(A⊆B) = |shA ∩ shB| / |shA|` —
    * catches documents substantially CONTAINED in another (quotes,
    * boilerplate supersets, partial copies) that symmetric Jaccard
    * structurally misses: a 50-shingle doc embedded in a 5000-shingle
    * doc scores J ≈ 0.01 but containment 1.0. The asymmetric measure
    * is the standard complement to Jaccard in corpus dedup (Broder's
    * resemblance/containment pair).
    *
    * Candidates come from the same inverted-index self-join as
    * [[ngramJaccardPairs]] (only docs sharing a shingle ever meet —
    * same hot-shingle caveat, same df-cap answer); both directions are
    * scored per unordered pair and the filter keeps pairs where EITHER
    * direction clears the threshold. Output: (id_a, id_b, n_common,
    * containment_a, containment_b). */
  def containmentPairs(documents: DataFrame, w: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    // equality-only semantics → 8-byte xxhash64 join keys, never the
    // md5 strings (no hash appears in the output): the co-shingle
    // self-join is the hot path and 32-char string keys make it ~10×
    // slower — same trade as ngramJaccardPairs
    val docSh = docShinglesRaw(documents, w)
      .select(col("doc_id"), xxhash64(col("shingle")).as("shk"))
      .localCheckpoint(true)
    // Shingles are DISTINCT per doc (WordShingles semantics), so the
    // per-pair match count of the co-shingle self-join IS |shA ∩ shB|:
    // one self-join + partial-aggregated count, instead of candidates →
    // distinct → re-join the shingle relation twice (which recomputes
    // the same co-shingle pairs a second time at ~3× the cost).
    val sizes = docSh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val common = docSh.as("a")
      .join(docSh.as("b"),
        col("a.shk") === col("b.shk") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(broadcast(sizes).as("sa"), col("id_a") === col("sa.doc_id"))
      .join(broadcast(sizes).as("sb"), col("id_b") === col("sb.doc_id"))
      .select(col("id_a"), col("id_b"), col("n_common"),
        (col("n_common").cast("double") / col("sa.n_sh").cast("double"))
          .as("containment_a"),
        (col("n_common").cast("double") / col("sb.n_sh").cast("double"))
          .as("containment_b"))
      .where(greatest(col("containment_a"), col("containment_b"))
        >= threshold)
  }

  /** Exact Jaccard for given candidate pairs, from the shared long-form
    * shingle relation. */
  private def jaccardOf(docSh: DataFrame, candidates: DataFrame): DataFrame = {
    val sizes = docSh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val common = candidates
      .join(docSh.as("a"), col("id_a") === col("a.doc_id"))
      .join(docSh.as("b"),
        col("id_b") === col("b.doc_id") && col("a.sh") === col("b.sh"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(broadcast(sizes).as("sa"), col("id_a") === col("sa.doc_id"))
      .join(broadcast(sizes).as("sb"), col("id_b") === col("sb.doc_id"))
      .select(col("id_a"), col("id_b"),
        (col("n_common").cast("double") /
          (col("sa.n_sh") + col("sb.n_sh") - col("n_common")).cast("double"))
          .as("jaccard"))
  }

  /** Connected components over an undirected near-dup pair relation
    * `(id_a, id_b)` — the clustering step that turns pairwise matches
    * into dedup groups (keep one doc per component). Min-label
    * propagation: every node repeatedly adopts the minimum label in
    * its closed neighborhood until fixpoint, so each component labels
    * itself with its smallest member id — deterministic. Converges in
    * O(component diameter) iterations; near-dup components are shallow
    * (dup clusters, not social graphs), so the loop is short. Each
    * iteration is one bounded shuffle over (node, label) pairs only;
    * for graphs with giant components see the large-star/small-star
    * alternating algorithm (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14) — same propagation idea with
    * provably fewer rounds. Small pair graphs (≤ `driverMaxPairs`
    * edges with integral ids) short-circuit to a driver union-find with
    * identical output — see the inline note. Output:
    * (doc_id, cluster_rep). */
  def connectedComponents(pairs: DataFrame,
      driverMaxPairs: Long = 1L << 20): DataFrame = {
    val p = pairs.select(col("id_a"), col("id_b"))
      .localCheckpoint(true) // pairs are computed exactly once
    // Adaptive strategy, same shape as Spark's own broadcast threshold:
    // the near-dup pair graph is orders of magnitude smaller than the
    // corpus that produced it (it is bounded by the duplicate count), so
    // when it fits comfortably on the driver (≤ driverMaxPairs edges,
    // ~16 MB at the default), a single union-find pass replaces an
    // O(diameter) sequence of join+shuffle rounds. Output is identical:
    // union-by-min keeps every root the component minimum, exactly the
    // min-label fixpoint. Anything larger — or non-integral ids — takes
    // the distributed propagation loop below.
    val integral = p.schema.fields.forall(f => f.dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case _ => false
    })
    if (integral && p.count() <= driverMaxPairs) {
      val spark = p.sparkSession
      import spark.implicits._
      val idType = p.schema.fields.head.dataType
      val es = p.select(col("id_a").cast("long"), col("id_b").cast("long"))
        .as[(Long, Long)].collect()
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x // path compression
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      return parent.keys.toSeq.sorted.map(n => (n, find(n)))
        .toDF("doc_id", "cluster_rep")
        .select(col("doc_id").cast(idType), col("cluster_rep").cast(idType))
    }
    val edges = p
      .select(col("id_a").as("u"), col("id_b").as("v"))
      .union(p.select(col("id_b").as("u"), col("id_a").as("v")))
      .localCheckpoint(true)
    // seed with the closed-neighborhood min directly — same cost as the
    // plain distinct-nodes shuffle (one groupBy over edges) but it IS
    // iteration 0, so the loop below starts one round further along
    var labels = edges.groupBy(col("u").as("node"))
      .agg(min(col("v")).as("mn"))
      .select(col("node"), least(col("node"), col("mn")).as("rep"))
      .localCheckpoint(true)
    var changed = 1L
    while (changed > 0) {
      val neighborMin = edges
        .join(labels, edges("v") === labels("node"))
        .groupBy(edges("u").as("n2")).agg(min(col("rep")).as("nrep"))
      // convergence flag computed IN the update join (nrep < rep ⇔ this
      // node's label shrank) — counting it afterwards is a cheap scan of
      // the checkpointed frame, not the extra labels⋈updated join +
      // shuffle a separate "what changed" comparison would cost per
      // iteration
      val updated = labels.as("l")
        .join(neighborMin, col("l.node") === col("n2"), "left")
        .select(col("l.node").as("node"),
          least(col("l.rep"), coalesce(col("nrep"), col("l.rep"))).as("rep"),
          (coalesce(col("nrep"), col("l.rep")) < col("l.rep")).as("chg"))
        .localCheckpoint(true)
      changed = updated.where(col("chg")).count()
      labels = updated.select(col("node"), col("rep"))
    }
    labels.select(col("node").as("doc_id"), col("rep").as("cluster_rep"))
  }

  /** End-to-end near-dup keep list: every document survives EXCEPT
    * non-representative members of a near-dup cluster (the component's
    * min doc_id is the keeper). The drop set is tiny relative to the
    * corpus (it is bounded by the duplicate count), so it broadcasts
    * into the anti-join and the corpus never shuffles. */
  def keepList(documents: DataFrame, pairs: DataFrame): DataFrame = {
    val drops = connectedComponents(pairs)
      .where(col("doc_id") =!= col("cluster_rep"))
      .select(col("doc_id"))
    documents.select(col("doc_id"))
      .join(broadcast(drops), Seq("doc_id"), "left_anti")
  }

  /** Cross-corpus exact dedup: rows of `corpus` whose body does NOT
    * appear in `reference` (by content digest) — the "new data only"
    * filter when refreshing a training set against what was already
    * used. One anti-join on the 16-byte digest: text never shuffles,
    * and the reference side reduces to its distinct digests first so
    * the join input is minimal. */
  def crossCorpusNew(corpus: DataFrame, reference: DataFrame): DataFrame = {
    val refHashes = reference
      .select(md5(col("text")).as("text_hash")).distinct()
    corpus.select(col("doc_id"), md5(col("text")).as("text_hash"))
      .join(refHashes, Seq("text_hash"), "left_anti")
  }

  /** Incremental MinHash-LSH candidate generation — the per-batch form
    * of near-dup detection that makes LSH dedup OPERABLE at corpus
    * scale: when a new document batch arrives, only pairs touching a
    * NEW document need scoring (old×old pairs were settled when the
    * old corpus was indexed). The candidate join is `newBuckets ×
    * allBuckets` — per-batch cost proportional to batch size × collision
    * rate, never corpus² — and in production the `all` side is a stored
    * signature table, maintained append-only, not recomputed (signatures
    * are per-document, so old rows never change; this method recomputes
    * them only because it takes bare documents).
    *
    * Output: verified near-dup pairs (id_a < id_b, exact Jaccard ≥
    * threshold) where at least one side is new. */
  def incrementalLshCandidates(oldDocs: DataFrame, newDocs: DataFrame,
      k: Int = 8, bands: Int = 4, w: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val allSh = docShingles(oldDocs.unionByName(newDocs), w)
      .localCheckpoint(true)
    val newIds = newDocs.select(col("doc_id"))
    val allBuckets = lshBuckets(withMinhashes(allSh, k), bands, k / bands)
      .localCheckpoint(true)
    // the new side filters the SAME bucket relation (signatures are
    // per-doc, so filter ≡ recompute) — a semi join against the batch
    val newBuckets = allBuckets
      .join(broadcast(newIds), Seq("doc_id"), "left_semi")
    val candidates = newBuckets.as("a")
      .join(allBuckets.as("b"),
        col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("id_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("id_b"))
      .distinct()
    jaccardOf(allSh, candidates).where(col("jaccard") >= threshold)
  }

  /** Substring-span near-duplication: document pairs sharing at least
    * `minShared` distinct EXACT character windows (`width` chars at
    * `stride` offsets) — the fixed-granularity approximation of
    * suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — public): long
    * verbatim overlaps (boilerplate, licenses, quoted blocks) produce
    * runs of identical windows even when whole-document similarity is
    * low, which is exactly what shingle Jaccard under-scores.
    *
    * Scale: windows dedupe per document, then an inverted-index
    * self-join on an 8-byte window hash — only docs sharing a window
    * ever meet (the oracle joins the raw window text: equality modulo
    * a 2⁻⁶⁴ xxhash collision). Same hot-key caveat as
    * [[ngramJaccardPairs]] — a window occurring in half the corpus
    * (shared boilerplate) explodes the join; the df-cap is the answer
    * there too. Tail fragments shorter than `width` are excluded: a
    * partial window is not evidence of a `width`-char overlap. */
  def substringSpanPairs(documents: DataFrame, width: Int = 40,
      stride: Int = 20, minShared: Long = 2L): DataFrame = {
    val windows = PipelineOps.chunkDocuments(documents, width, stride)
      .where(col("n_chars") === width)
      .select(col("doc_id"), xxhash64(col("chunk")).as("wk"))
      .distinct()
    windows.as("a").join(windows.as("b"),
        col("a.wk") === col("b.wk") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Ensemble near-dup consensus: the union of the LEXICAL signal
    * (MinHash-LSH verified Jaccard) and the SEMANTIC signal (banded
    * sign-LSH verified cosine, ids bridged doc_id = vec_id), with a
    * per-pair evidence count — the multi-signal triage view a dedup
    * operator reviews before choosing drop rules: 2-signal pairs are
    * near-certain duplicates, 1-signal pairs show where the two
    * similarity spaces disagree (paraphrases score semantically only;
    * boilerplate shells score lexically only).
    *
    * Both inputs are already-bucketed pair relations (tiny next to the
    * corpus), so the consensus join is a full-outer over candidates —
    * never a corpus-scale operation. */
  def ensembleNearDup(documents: DataFrame, embeddings: DataFrame,
      tLex: Double = 0.5, tSem: Double = 0.42): DataFrame = {
    // Each branch pays ONE eager checkpoint (the lexical shingle long
    // form — reused by signatures and the Jaccard verify — and the
    // semantic id-only banded relation inside lshNearDupPairs). Those
    // materializations are independent Spark jobs on disjoint inputs,
    // so the driver submits them from two threads and they fill the
    // cluster concurrently instead of back-to-back; the standalone
    // lexical variant's second checkpoint (signatures) is dropped —
    // the signature agg's self-join reuses its own exchange.
    val (lex, sem) = graft.Par.par2({
      // the checkpoint carries BOTH shingle keys: the md5 form (the
      // MinHash semantics the oracle replicates) and an 8-byte xxhash64
      // join key so the Jaccard verify's shuffles move longs, not
      // 32-char hex strings (internal key only — equality coincides
      // modulo the 2^-64 collision the md5 form equally accepts)
      val docSh = docShinglesRaw(documents, 3)
        .select(col("doc_id"), md5(col("shingle")).as("sh"),
          xxhash64(col("shingle")).as("k8"))
        .localCheckpoint(true)
      val buckets = lshBuckets(withMinhashes(docSh, 8), 4, 2)
      val candidates = buckets.as("a")
        .join(buckets.as("b"),
          col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct()
      val keyed = docSh.select(col("doc_id"), col("k8"))
      val sizes = keyed.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      val common = candidates
        .join(keyed.as("a"), col("id_a") === col("a.doc_id"))
        .join(keyed.as("b"),
          col("id_b") === col("b.doc_id") && col("a.k8") === col("b.k8"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("n_common"))
      common
        .join(broadcast(sizes).as("sa"), col("id_a") === col("sa.doc_id"))
        .join(broadcast(sizes).as("sb"), col("id_b") === col("sb.doc_id"))
        .select(col("id_a"), col("id_b"),
          (col("n_common").cast("double") /
            (col("sa.n_sh") + col("sb.n_sh") - col("n_common"))
              .cast("double")).as("jaccard"))
        .where(col("jaccard") >= tLex)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    }, {
      Similarity.lshNearDupPairs(embeddings, threshold = tSem)
        .select(col("id_a"), col("id_b"), col("cos"))
    })
    lex.join(sem, Seq("id_a", "id_b"), "full_outer")
      .select(col("id_a"), col("id_b"), col("jaccard"), col("cos"),
        (when(col("jaccard").isNotNull, 1).otherwise(0) +
          when(col("cos").isNotNull, 1).otherwise(0)).as("n_signals"))
  }

  /** Fuzzy benchmark contamination via a TWO-SIDED LSH join: corpus
    * documents NEAR-duplicating any benchmark document (exact Jaccard ≥
    * threshold on verified band-collision candidates). The exact-
    * shingle contamination check ([[PipelineOps.contaminationCheck]])
    * catches verbatim leakage; this catches the paraphrased/partially-
    * rewritten test data that actually survives corpus cleaning.
    *
    * The candidate join is corpus-buckets × benchmark-buckets — never a
    * self-join, so cost scales with the (small) benchmark side's
    * collision rate; only (doc_id, band, 16-byte hash) rows shuffle.
    * Output per contaminated corpus doc: (doc_id, n_bench_matches,
    * best_jaccard). */
  def fuzzyContamination(corpus: DataFrame, benchmark: DataFrame,
      k: Int = 8, bands: Int = 4, w: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val corpusSh = docShingles(corpus, w).localCheckpoint(true)
    val benchSh = docShingles(benchmark, w).localCheckpoint(true)
    val cb = lshBuckets(withMinhashes(corpusSh, k), bands, k / bands)
    val bb = lshBuckets(withMinhashes(benchSh, k), bands, k / bands)
    val candidates = cb.as("c").join(bb.as("b"),
        col("c.band") === col("b.band") &&
        col("c.band_hash") === col("b.band_hash"))
      .select(col("c.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val sizesC = corpusSh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val sizesB = benchSh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val common = candidates
      .join(corpusSh.as("a"), col("id_a") === col("a.doc_id"))
      .join(benchSh.as("b"),
        col("id_b") === col("b.doc_id") && col("a.sh") === col("b.sh"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(broadcast(sizesC).as("sa"), col("id_a") === col("sa.doc_id"))
      .join(broadcast(sizesB).as("sb"), col("id_b") === col("sb.doc_id"))
      .select(col("id_a"), col("id_b"),
        (col("n_common").cast("double") /
          (col("sa.n_sh") + col("sb.n_sh") - col("n_common"))
            .cast("double")).as("jaccard"))
      .where(col("jaccard") >= threshold)
      .groupBy(col("id_a").as("doc_id"))
      .agg(count(lit(1)).as("n_bench_matches"),
        max(col("jaccard")).as("best_jaccard"))
  }

  /** 32-bit SimHash over the document's SHINGLE set (shingles, not bare
    * tokens, so the signature reflects word order/locality — bare-token
    * simhash degenerates on small vocabularies): bit_j = sign of
    * Σ_shingles (±1 by bit j of the shingle digest). Computed from the
    * long-form (doc, sh) relation in one aggregation pass; bit values
    * come from hex digits of md5 via base conversion — reproducible in
    * any engine with md5. */
  def simhashSignatures(documents: DataFrame, w: Int = 3,
      bits: Int = 32): DataFrame = {
    // the ±1 bit contributions come from ONE native hex parse per
    // shingle (HexBitSigns), materialized as a column so the 32 sums
    // read array slots instead of re-deriving hex digits 32 times
    val contribs = (0 until bits).map { j =>
      sum(element_at(col("__signs"), j + 1)).as(s"s$j")
    }
    docShingles(documents, w)
      .withColumn("__signs",
        graft.functions.HashFunctions.hex_bit_signs(col("sh"), bits))
      .groupBy(col("doc_id"))
      .agg(contribs.head, contribs.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map { j =>
          when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L))
        }.reduce(_ + _).as("sig"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming (≤ 3 for
    * completeness with 4 bands). Candidates via 4×8-bit band self-join —
    * pigeonhole guarantees any pair within Hamming ≤ 3 shares at least
    * one band — then exact Hamming verify. */
  /** The 4-band relation simhashPairs self-joins: one row per
    * (doc, band) with the band's (bits/4)-bit value. Exposed so the
    * scale harness can count band-bucket candidate pairs on the EXACT
    * production relation (ScaleStress.simhashCandidateCount). */
  def simhashBandRelation(sigs: DataFrame, bits: Int = 32): DataFrame = {
    val bandBits = bits / 4
    val mask = (1L << bandBits) - 1L
    sigs.select(col("doc_id"), col("sig"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), bandBits * b).bitwiseAND(lit(mask))
            .as("bval"))): _*))
        .as("bb"))
      .select(col("doc_id"), col("sig"), col("bb.band").as("band"),
        col("bb.bval").as("bval"))
  }

  /** SimHash near-dup pairs; `bits` is the SCALE KNOB: band bucket
    * count is 2^(bits/4) per band, so — exactly like sign-LSH's
    * rowsPerBand — grow the signature width with the corpus (32-bit
    * → 256 buckets/band saturates around 10⁴ docs; 64-bit → 65 536
    * buckets/band holds the candidate growth near-linear two decades
    * further; ScaleGrowthSpec pins the recipe, SCALE.md measures it).
    * The 4-band pigeonhole completeness for Hamming ≤ 3 holds at any
    * width. */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 3,
      bits: Int = 32): DataFrame = {
    require(maxHamming <= 3, "4-band bucketing is only complete for Hamming <= 3")
    require(bits % 4 == 0 && bits <= 64, s"bits must be a multiple of 4 <= 64, got $bits")
    val sigs = simhashSignatures(documents, bits = bits)
      .localCheckpoint(true)
    val bands = simhashBandRelation(sigs, bits)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      // Hamming verify BEFORE distinct: the per-row bit_count is nearly
      // free, so only true near-dups reach the dedup shuffle (band
      // collisions can be numerous on self-similar corpora)
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** MAXIMAL repeated substring spans between document pairs — the
    * exact substring dedup of Lee et al. 2022 ("Deduplicating Training
    * Data Makes Language Models Better", public), upgrading
    * [[substringSpanPairs]]'s fixed-40-char approximation to true
    * variable-length maximal spans: every (id_a, id_b, start_a,
    * start_b, span_len) with text_a[start_a, start_a+span_len) ==
    * text_b[start_b, start_b+span_len), span_len ≥ minLen, and the
    * match extendable in neither direction.
    *
    * The reduction that makes it relational instead of suffix-array:
    * emit every length-`minLen` character gram with its offset. For a
    * fixed doc pair, gram (i, j) matches AND gram (i+1, j+1) matches
    * iff chars a[i+minLen] == b[j+minLen] — the first minLen−1 chars of
    * the second gram are already equal under the first. So matched gram
    * positions along a diagonal d = i−j form contiguous runs that are
    * EXACTLY the maximal equality runs: a run of c grams is a maximal
    * span of length c + minLen − 1, left/right-blocked by boundary or
    * mismatch. Runs are found with the islands trick (ia − row_number
    * over the per-pair-per-diagonal window — a window bounded by the
    * pair's span structure, never the corpus).
    *
    * Scale: one row per character offset (the same order as the
    * suffix-array construction scan), shuffled as an 8-byte xxhash64
    * gram key — the raw-text oracle join is equality modulo the 2⁻⁶⁴
    * collision the hash side accepts by design, the documented
    * [[substringSpanPairs]] stance. The self-join meets only offsets
    * sharing a gram; corpus-frequent grams (license boilerplate in k
    * docs × p offsets → (kp)² meetings) are the hot-key hazard, so
    * `maxGramDf` caps gram document-frequency: grams above the cap are
    * dropped BEFORE the join (a gram inside a surviving maximal span
    * keeps the span discoverable via its other grams unless ALL its
    * grams are capped — the standard recall trade; leave None for the
    * exact oracle-checked semantics). */
  def maximalSubstringSpans(documents: DataFrame, minLen: Int = 40,
      maxGramDf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = documents
      .where(length(col("text")) >= minLen)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, length(text) - $minLen),
           |  i -> xxhash64(substring(text, i + 1, $minLen)))"""
          .stripMargin)))
      .select(col("doc_id"), col("pos").cast("long").as("i"),
        col("col").as("gk"))
    val seeded = maxGramDf match {
      case Some(cap) =>
        val hot = grams.groupBy(col("gk"))
          .agg(countDistinct(col("doc_id")).as("df"))
          .where(col("df") > cap)
          .select(col("gk"))
        grams.join(hot, Seq("gk"), "left_anti")
      case None => grams
    }
    // BOTH sides of the gram meeting are corpus-sized by construction
    // (one row per character offset), so the join is pinned to
    // sort-merge: the planner's post-explode size estimate can land
    // under the broadcast threshold and a "broadcast" of the gram
    // relation is a driver-collect of the whole corpus — the exact
    // failure the 100× stress run reproduces without the hint.
    val matched = seeded.as("a").hint("merge").join(
        seeded.as("b").hint("merge"),
        col("a.gk") === col("b.gk") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.i").as("ia"), (col("a.i") - col("b.i")).as("diag"))
    val w = Window.partitionBy(col("id_a"), col("id_b"), col("diag"))
      .orderBy(col("ia"))
    matched
      .withColumn("grp", col("ia") - row_number().over(w))
      .groupBy(col("id_a"), col("id_b"), col("diag"), col("grp"))
      .agg(min(col("ia")).as("start_a"),
        (min(col("ia")) - col("diag")).as("start_b"),
        (count(lit(1)) + lit(minLen - 1).cast("long")).as("span_len"))
      .select(col("id_a"), col("id_b"), col("start_a"), col("start_b"),
        col("span_len"))
  }

  /** Per-document duplicated-character coverage — the DROP-DECISION
    * quantity of exact substring dedup: for each doc, how many of its
    * characters are covered by a maximal span shared with some
    * LOWER-id document (the keep-first convention: the smallest id
    * owning a span is its canonical copy). The Lee et al. pipeline
    * drops or trims documents by exactly this fraction.
    *
    * Interval union per doc is the classic sweep as two partitioned
    * windows: an island starts where a span's start exceeds the
    * running max end of everything before it; islands then aggregate
    * to disjoint intervals. Both windows partition by doc_id — work
    * per doc is its own span count, never the corpus. */
  def spanCoverage(documents: DataFrame, minLen: Int = 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val iv = maximalSubstringSpans(documents, minLen)
      // id_a < id_b always: the b side is the doc whose content is
      // owned by an earlier (smaller-id) doc
      .select(col("id_b").as("doc_id"), col("start_b").as("s"),
        (col("start_b") + col("span_len")).as("e"))
    val ord = Window.partitionBy(col("doc_id"))
      .orderBy(col("s"), col("e"))
    val marked = iv
      .withColumn("prev_max_e",
        max(col("e")).over(ord.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("is_new",
        (col("prev_max_e").isNull || col("s") > col("prev_max_e"))
          .cast("long"))
    val covered = marked
      .withColumn("island", sum(col("is_new"))
        .over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
      .groupBy(col("doc_id"))
      .agg(sum(col("e") - col("s")).as("covered_chars"))
    documents
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("covered_chars"), lit(0L)).as("covered_chars"),
        (coalesce(col("covered_chars"), lit(0L)).cast("double") /
          col("n_chars").cast("double")).as("dup_frac"))
  }
}
