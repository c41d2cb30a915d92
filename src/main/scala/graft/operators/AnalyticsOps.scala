package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Product-analytics operators over the event log — the query family a
  * pipeline team runs beside billing: cohort retention, ordered
  * funnels, equi-depth histograms, per-document keyword extraction.
  * All are built from the reference's own primitives (conditional
  * aggregation, windows, explode) — see SURVEY.md §2.4/§2.5 — composed
  * into the standard formulations; each holds a DuckDB oracle.
  */
object AnalyticsOps {

  /** Cohort retention: users grouped by their first-activity date
    * (cohort), counted on each later active day as (cohort_date,
    * day_offset, n_users).
    *
    * Scale: ONE shuffle on user_id produces BOTH the cohort date and
    * the distinct active-day set in the same aggregation (partial aggs
    * collapse duplicate (user, day) rows map-side; the set is bounded
    * by the retention horizon in days, not by event volume), then one
    * small shuffle on (cohort, offset). The naive two-pass form —
    * cohort table joined back to the event log — re-shuffles the full
    * log a second time.
    */
  def cohortRetention(events: DataFrame, user: String = "user_id",
      ts: String = "ts"): DataFrame = {
    val perUser = events
      .select(col(user).as("u"), to_date(col(ts)).as("d"))
      .groupBy(col("u"))
      .agg(min(col("d")).as("cohort_date"), collect_set(col("d")).as("days"))
    perUser
      .select(col("u"), col("cohort_date"), explode(col("days")).as("d"))
      .groupBy(col("cohort_date"),
        datediff(col("d"), col("cohort_date")).as("day_offset"))
      // (u, d) pairs are unique by construction, so count ≡ distinct users
      .agg(count(lit(1)).as("n_users"))
  }

  /** Ordered (first-touch) funnel: a user reaches stage k iff the first
    * occurrence of every earlier stage exists and the first occurrences
    * are strictly increasing in time — `min_ts(s1) < min_ts(s2) < …` .
    * Output: (stage, stage_name, n_users) with n_users monotonically
    * non-increasing down the funnel.
    *
    * Scale: one shuffle on user_id computes every stage's conditional
    * min in a single hash aggregation (k columns, not k passes); the
    * per-user max-stage histogram is ≤ k+1 rows, and the suffix
    * accumulation ("reached ≥ k") explodes that tiny histogram instead
    * of windowing over users.
    */
  def orderedFunnel(events: DataFrame, stages: Seq[String],
      user: String = "user_id", ts: String = "ts",
      typeCol: String = "event_type"): DataFrame = {
    require(stages.nonEmpty)
    val mins = stages.zipWithIndex.map { case (st, i) =>
      min(when(col(typeCol) === st, col(ts))).as(s"m$i")
    }
    val perUser = events.groupBy(col(user)).agg(mins.head, mins.tail: _*)
    // reached(k) = m0..mk all present and strictly ordered; a NULL min
    // or an out-of-order pair nulls/falses the conjunction
    val reached = stages.indices.map { i =>
      (col("m0").isNotNull +: (1 to i).map(j =>
        col(s"m$j") > col(s"m${j - 1}"))).reduce(_ && _)
    }
    // flags are monotone, so the highest stage reached is their sum
    val maxStage = reached
      .map(r => when(r, lit(1)).otherwise(lit(0))).reduce(_ + _)
    val hist = perUser.select(maxStage.as("max_stage"))
      .groupBy(col("max_stage")).agg(count(lit(1)).as("n"))
    val names = map(stages.zipWithIndex.flatMap { case (st, i) =>
      Seq(lit(i + 1), lit(st))
    }: _*)
    hist.where(col("max_stage") >= 1)
      .select(explode(sequence(lit(1), col("max_stage"))).as("stage"),
        col("n"))
      .groupBy(col("stage"))
      .agg(sum(col("n")).as("n_users"))
      .select(col("stage"), element_at(names, col("stage")).as("stage_name"),
        col("n_users"))
  }

  /** Exact equi-depth histogram with value-atomic buckets: rows sort by
    * value, split into `nBuckets` equal-row spans, and a value's rows
    * never straddle buckets (each value lands in the bucket of its
    * first row). Output per bucket: distinct values, row count, lo/hi
    * bounds.
    *
    * Scale: the cumulative count runs over the DISTINCT-value frame
    * (one row per value, built by a hash aggregation of the input),
    * never raw rows — and it is bucket-decomposed, never a single
    * task: `nRangeBuckets − 1` approximate quantile splitters of the
    * distinct frame (one `percentile_approx` aggregate — splitter
    * accuracy only affects bucket BALANCE, the cumulative counts stay
    * exact whatever the split) range-partition the values, each range
    * computes its local running count in parallel, and the cross-range
    * carry-in is a window over the bounded per-range totals — the same
    * two-phase parallel-scan shape as
    * [[graft.operators.RelationalOps.distributedPrefixSum]], here
    * keyed on an arbitrary numeric value column instead of a unique
    * integral one. For continuous doubles (distinct ≈ row count, the
    * case that used to serialize through one WindowExec task) every
    * phase stays parallel. Bucket ids use integral floor-division — no
    * IEEE rounding at bucket edges. `value` must be numeric (the
    * splitter aggregate requires it).
    */
  def equiDepthHistogram(df: DataFrame, value: String,
      nBuckets: Int, nRangeBuckets: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // nRangeBuckets = 1 would make the splitter probability array
    // `(1 until 1)` empty and percentile_approx fail analysis; a
    // single range bucket also defeats the decomposition's purpose
    require(nRangeBuckets >= 2,
      s"nRangeBuckets must be >= 2, got $nRangeBuckets")
    val counts = df.where(col(value).isNotNull)
      .groupBy(col(value).as("v")).agg(count(lit(1)).as("n"))
    val probs = array((1 until nRangeBuckets)
      .map(i => lit(i.toDouble / nRangeBuckets)): _*)
    val splitters = counts.agg(
      percentile_approx(col("v"), probs, lit(10000)).as("_sp"))
    // _rb = #{splitters ≤ v}: monotone non-decreasing in v, so range-
    // bucket order refines value order and the decomposition is exact
    val bucketed = counts.crossJoin(broadcast(splitters))
      .withColumn("_rb", aggregate(col("_sp"), lit(0),
        (acc, s) => acc + when(col("v") >= s, 1).otherwise(0)))
      .drop("_sp")
    val ordRb = Window.orderBy(col("_rb"))
    // bounded serial step: ≤ nRangeBuckets rows
    val offsets = bucketed.groupBy(col("_rb"))
      .agg(sum(col("n")).as("_bsum"))
      .withColumn("_off", coalesce(sum(col("_bsum")).over(
        ordRb.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("total", sum(col("_bsum")).over(ordRb.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("_rb"), col("_off"), col("total"))
    val local = Window.partitionBy(col("_rb")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    bucketed.join(broadcast(offsets), Seq("_rb"))
      .withColumn("cum_before",
        col("_off") + coalesce(sum(col("n")).over(local), lit(0L)))
      .select(expr(s"cum_before * $nBuckets div total").as("bucket"),
        col("v"), col("n"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_values"), sum(col("n")).as("n_rows"),
        min(col("v")).as("lo"), max(col("v")).as("hi"))
  }

  /** Exact bivariate statistics per group — Pearson correlation and
    * the simple-OLS fit (slope, intercept) — computed from
    * DECIMAL-accumulated power sums (Σx, Σy, Σxy, Σx², Σy²), then
    * combined per GROUP (not per row) with IEEE +,−,×,÷,√ on
    * identical operands in any engine. Spark's built-in `corr` uses
    * a float co-moment recurrence whose result depends on aggregation
    * order — fine statistically, useless for bit-reproducible
    * pipelines; this is the deterministic form, and the reason it
    * exists beside the built-in.
    *
    * Scale: one shuffle, five mergeable sums; the sums are partial-
    * aggregated map-side like any hash agg.
    *
    * Parity hazard, learned the hard way: NEVER cast a computed
    * double (x*y) to decimal — engines disagree on which decimal a
    * long-expansion double rounds to (Spark rounds the shortest
    * representation, DuckDB the exact binary expansion). Cast the
    * RAW columns to DECIMAL(18,4) — exact for data with ≤4 stored
    * decimals — and multiply in decimal arithmetic, which is exact
    * in every engine. */
  def bivariateStats(df: DataFrame, groupCol: String, x: String,
      y: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val f = DecimalType(18, 4)
    def ds1(c: Column) = sum(c.cast(f)).cast("double")
    def ds2(a: Column, b: Column) = sum(a.cast(f) * b.cast(f))
      .cast("double")
    val sums = df.groupBy(col(groupCol)).agg(
      count(lit(1)).cast("double").as("n"),
      ds1(col(x)).as("sx"), ds1(col(y)).as("sy"),
      ds2(col(x), col(y)).as("sxy"),
      ds2(col(x), col(x)).as("sxx"),
      ds2(col(y), col(y)).as("syy"))
    val covN = col("n") * col("sxy") - col("sx") * col("sy")
    val varX = col("n") * col("sxx") - col("sx") * col("sx")
    val varY = col("n") * col("syy") - col("sy") * col("sy")
    sums.select(col(groupCol), col("n").cast("long").as("n_rows"),
      (covN / sqrt(varX * varY)).as("corr"),
      (covN / varX).as("slope"),
      ((col("sy") - (covN / varX) * col("sx")) / col("n")).as("intercept"))
  }

  /** Spearman rank correlation per group — the monotone-association
    * complement of [[bivariateStats]]' Pearson: rho = Pearson over
    * average ranks, robust to outliers and nonlinear-but-monotone
    * relations (the classic screen for "correlated but not linearly").
    *
    * Ties take the textbook average rank, kept INTEGRAL by doubling:
    * R2 = 2·rank_min + ties − 1 (= 2× the average rank; Pearson is
    * affine-invariant so rho is unchanged, and every accumulator stays
    * an exact integer). Sums accumulate in DECIMAL(38,0) — R2 ≤ 2n, so
    * Σ R2² ≤ 4n³ wraps a long near 10^6 group rows; decimal holds to
    * n ≈ 10^11. Ranks come from windows PARTITIONED BY the group (never
    * a global single-partition sort); the per-group sort is the same
    * shuffle any rank statistic costs at 100 TB. */
  def spearmanCorr(df: DataFrame, groupCol: String, x: String,
      y: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def rank2(c: String): Column = {
      val w = Window.partitionBy(col(groupCol)).orderBy(col(c))
      // peer count via a RANGE current-row frame ON THE SAME window
      // spec as rank(): both expressions share one exchange + one
      // sort, where a (group, value)-partitioned count would add a
      // second exchange per variable
      val ties = w.rangeBetween(Window.currentRow, Window.currentRow)
      // (19,0): products stay inside the 38-digit cap without a clamp
      (rank().over(w) * lit(2) + count(lit(1)).over(ties) - lit(1))
        .cast(DecimalType(19, 0))
    }
    val ranked = df.select(col(groupCol), col(x), col(y))
      .withColumn("rx", rank2(x))
      .withColumn("ry", rank2(y))
    val d = DecimalType(38, 0)
    val sums = ranked.groupBy(col(groupCol)).agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("rx")).cast("double").as("sx"),
      sum(col("ry")).cast("double").as("sy"),
      sum((col("rx") * col("ry")).cast(d)).cast("double").as("sxy"),
      sum((col("rx") * col("rx")).cast(d)).cast("double").as("sxx"),
      sum((col("ry") * col("ry")).cast(d)).cast("double").as("syy"))
    val covN = col("n") * col("sxy") - col("sx") * col("sy")
    val varX = col("n") * col("sxx") - col("sx") * col("sx")
    val varY = col("n") * col("syy") - col("sy") * col("sy")
    sums.select(col(groupCol), col("n").cast("long").as("n_rows"),
      (covN / sqrt(varX * varY)).as("spearman_rho"))
  }

  /** Exact Gini concentration coefficient of a 2-dp money column —
    * the inequality complement of the HHI: G = 2·Σᵢ i·xᵢ / (n·Σx)
    * − (n+1)/n over ASCENDING ranks.
    *
    * No per-row global rank is ever materialized: values collapse to
    * (distinct cents, count) and the rank-sum of a tie group with
    * `prev` predecessors and `nv` members is nv·prev + nv(nv+1)/2 in
    * closed form — tie order cancels, so the statistic is exact and
    * deterministic. The predecessor counts come from
    * [[RelationalOps.distributedPrefixSum]] (two-phase scan, serial
    * step bounded by nBuckets — never a corpus-wide single-partition
    * window), and Σ cents·rankSum accumulates in DECIMAL(38,0) (the
    * products overflow a long at ~10^18). Cents keep every term
    * integral; Gini is scale-invariant so the ×100 cancels.
    * Output: one row (n_rows, total_cents, gini). */
  def giniCoefficient(df: DataFrame, valueCol: String): DataFrame = {
    val cents = (col(valueCol).cast(DecimalType(18, 2)) * lit(100))
      .cast("long")
    val g = df.select(cents.as("cv")).groupBy(col("cv"))
      .agg(count(lit(1)).as("nv"))
    val withCum = RelationalOps.distributedPrefixSum(g, "cv", "nv")
      .withColumn("prev", col("cum") - col("nv"))
    // headroom audit (all EXACT, no precision clamp): rankSum ~ n² at
    // (25,0) holds to n ≈ 3·10^12 rows; cents at (12,0) hold to 10^10
    // currency units; their product is (12+25+1)=(38,0) — exactly the
    // decimal cap, no rounding — and Σ stays exact until 10^38.
    // rankSum itself is computed on LONGs first, so the long bound
    // n(n+1)/2 < 2^63 (n ≈ 4·10^9) binds earlier; past that, compute
    // nv*prev on the already-decimal operands.
    val rankSum = (col("nv").cast(DecimalType(13, 0)) *
      col("prev").cast(DecimalType(13, 0)) + // (27,0), exact
      expr("(nv * (nv + 1)) div 2").cast(DecimalType(25, 0)))
      .cast(DecimalType(25, 0))
    val s = withCum.agg(
      sum(col("nv")).as("n"),
      // s0c accumulates in DECIMAL (19+18+1 = 38, exact) — a raw
      // long·long product would wrap silently near 10^10 rows; the
      // output column stays BIGINT (total cents < 2^63 documented)
      sum(col("cv").cast(DecimalType(19, 0)) *
        col("nv").cast(DecimalType(18, 0))).cast("long").as("s0c"),
      sum(col("cv").cast(DecimalType(12, 0)) * rankSum)
        .cast("double").as("s1c"))
    s.select(col("n").as("n_rows"), col("s0c").as("total_cents"),
      ((lit(2.0) * col("s1c")) /
        (col("n").cast("double") * col("s0c").cast("double")) -
        (col("n").cast("double") + lit(1.0)) / col("n").cast("double"))
        .as("gini"))
  }

  /** Lorenz curve sampled at the decile grid — the curve whose area
    * complement [[giniCoefficient]] summarizes: after sorting entities
    * by a 2-dp money value, report for each decile boundary k/10 the
    * exact cumulative population and value shares at the first point
    * reaching it. "Bottom 50 % of customers hold 9 % of spend" is this
    * operator's row k=5.
    *
    * Same scale discipline as Gini: values collapse to (distinct
    * cents, count) tie groups, cumulative counts/sums come from
    * [[RelationalOps.distributedPrefixSum]] (serial step bounded by
    * its bucket count, never a corpus-wide window), and the decile
    * probe is a broadcast nested-loop against a 10-row grid (≤ ×10
    * expansion). Tie groups make the curve well-defined: all members
    * of a tie group are counted together, so no arbitrary tie split
    * can change a share. Long arithmetic in the grid probe bounds
    * n ≤ 9·10^17 rows (10·n must fit a long); cum value sums are
    * DECIMAL(38,0)-exact. */
  def lorenzDeciles(entityValues: DataFrame, valueCol: String)
      : DataFrame = {
    val cents = (col(valueCol).cast(DecimalType(18, 2)) * lit(100))
      .cast("long")
    val g = entityValues.select(cents.as("cv")).groupBy(col("cv"))
      .agg(count(lit(1)).as("nv"))
      .withColumn("sv", (col("cv").cast(DecimalType(19, 0)) *
        col("nv").cast(DecimalType(18, 0))).cast(DecimalType(38, 0)))
    val cumN = RelationalOps.distributedPrefixSum(
        g.select("cv", "nv"), "cv", "nv")
      .withColumnRenamed("cum", "cum_n")
    val cumS = RelationalOps.distributedPrefixSum(
        g.select("cv", "sv"), "cv", "sv")
      .withColumnRenamed("cum", "cum_s").select("cv", "cum_s")
    val tot = g.agg(sum(col("nv")).as("n"),
      sum(col("sv")).cast(DecimalType(38, 0)).as("s"))
    val ks = entityValues.sparkSession.range(1, 11)
      .select(col("id").as("decile"))
    cumN.join(cumS, "cv")
      .crossJoin(broadcast(tot))
      .join(broadcast(ks),
        col("cum_n") * 10 >= col("decile") * col("n") &&
          (col("cum_n") - col("nv")) * 10 < col("decile") * col("n"))
      .select(col("decile"), col("cum_n").as("cum_entities"),
        (col("cum_n").cast("double") / col("n").cast("double"))
          .as("pop_share"),
        (col("cum_s").cast("double") / col("s").cast("double"))
          .as("value_share"))
  }

  /** Multi-feature OLS (y ~ b0 + b1·x1 + b2·x2) by NORMAL EQUATIONS:
    * one pass collects the ten decimal-exact moment sums
    * (n, Σx1, Σx2, Σy, Σx1², Σx1x2, Σx2², Σx1y, Σx2y, Σy²), and the
    * 3×3 system solves in closed form by Cramer's rule — a fixed IEEE
    * expression tree over the moments, replayed verbatim by the
    * oracle, so the coefficients are bit-reproducible where an
    * iterative solver would not be.
    *
    * Scale: ONE map-side-combined aggregation over the corpus (ten
    * sums travel, not rows); everything after is arithmetic on a
    * single row. This is the classic big-data regression shape — the
    * same sufficient-statistics pass MLlib's summarizer does.
    * Output: one row (n_rows, b0, b1, b2, r2). */
  def olsNormalEquations(df: DataFrame, y: String, x1: String,
      x2: String): DataFrame = {
    val f = DecimalType(18, 4)
    def d1(c: Column) = sum(c.cast(f)).cast("double")
    def d2(a: Column, b: Column) = sum(a.cast(f) * b.cast(f))
      .cast("double")
    val m = df.agg(
      count(lit(1)).cast("double").as("n"),
      d1(col(x1)).as("s1"), d1(col(x2)).as("s2"), d1(col(y)).as("sy"),
      d2(col(x1), col(x1)).as("s11"), d2(col(x1), col(x2)).as("s12"),
      d2(col(x2), col(x2)).as("s22"), d2(col(x1), col(y)).as("s1y"),
      d2(col(x2), col(y)).as("s2y"), d2(col(y), col(y)).as("syy"))
    val n = col("n")
    val (s1, s2, sy) = (col("s1"), col("s2"), col("sy"))
    val (s11, s12, s22) = (col("s11"), col("s12"), col("s22"))
    val (s1y, s2y, syy) = (col("s1y"), col("s2y"), col("syy"))
    val det = n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s12 - s11 * s2)
    val det0 = sy * (s11 * s22 - s12 * s12) -
      s1 * (s1y * s22 - s12 * s2y) + s2 * (s1y * s12 - s11 * s2y)
    val det1 = n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s2y - s1y * s2)
    val det2 = n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) +
      sy * (s1 * s12 - s11 * s2)
    val (b0, b1, b2) = (det0 / det, det1 / det, det2 / det)
    val sse = syy - b0 * sy - b1 * s1y - b2 * s2y
    val sst = syy - sy * sy / n
    m.select(n.cast("long").as("n_rows"), b0.as("b0"), b1.as("b1"),
      b2.as("b2"), (lit(1.0) - sse / sst).as("r2"))
  }

  /** One-pass numeric column profile in long form: per column, row
    * count, null count, exact distinct count, min and max (as double).
    * The data-quality sweep a pipeline runs before trusting a new
    * drop. One aggregation computes every column's stats (the distinct
    * counts expand the input k ways — the documented exact-profile
    * cost; swap in `approx_count_distinct` when profiling 100 TB), and
    * the single result row explodes into (column, stats) rows. */
  def profileNumeric(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty)
    val aggs = count(lit(1)).as("__n") +: cols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__${c}_null"),
      countDistinct(col(c)).as(s"__${c}_nd"),
      min(col(c).cast("double")).as(s"__${c}_mn"),
      max(col(c).cast("double")).as(s"__${c}_mx")))
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("col_name"), col("__n").as("n_rows"),
        col(s"__${c}_null").as("n_null"),
        col(s"__${c}_nd").as("n_distinct"),
        col(s"__${c}_mn").as("min_v"),
        col(s"__${c}_mx").as("max_v"))): _*)).as("p"))
      .select(col("p.*"))
  }

  /** Per-document top-k salient terms — tf·idf ranking with the
    * log-free idf surrogate `tf * N / df` (monotone in tf/df exactly
    * like `tf·log(N/df)` for fixed tf; chosen because the engine's
    * oracle-parity rules allow only IEEE +,-,*,/ per row, and ln(x)
    * is not bit-reproducible across engines). Tokenization matches
    * `PipelineOps.vocabulary` (lowercase, whitespace split).
    *
    * Scale: tf is one shuffle on (doc, token); df derives from the tf
    * frame by a second, token-keyed aggregation of ALREADY-collapsed
    * (doc, token) rows; the corpus-size scalar broadcasts. The final
    * per-doc top-k is a window over tf rows — bounded by tokens per
    * doc, partitioned by doc, no global sort.
    */
  def topTermsPerDoc(documents: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tokens = documents.select(col("doc_id"),
      explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
    val tf = tokens.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocs = documents.select(countDistinct(col("doc_id")).as("n_docs"))
    val scored = tf.join(dfreq, "token").crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf").cast("double") * col("n_docs").cast("double") /
          col("df").cast("double"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("token"), col("tf"),
        col("df"), col("score"))
  }

  /** 2-D skyline (Pareto frontier, both dimensions minimized): a point
    * survives iff no other point is ≤ in both coordinates and < in one.
    * In two dimensions the frontier falls out of one sorted pass — keep
    * a point iff its y is strictly below the running min-y of all
    * points before it in (x, y) order.
    *
    * Distributed WITHOUT a global single-partition window: points
    * bucket by x-range; each bucket runs the prefix-min window locally
    * (partitioned — parallel), and the cross-bucket carry-in is the
    * running min over the per-bucket minima — a bucket-count-sized
    * relation that broadcasts. Same output as the global pass because
    * bucket order refines x order. Input need not be distinct;
    * duplicate coordinate pairs collapse first (a duplicate never
    * dominates its twin). Output: the frontier points (x, y). */
  def skyline2D(df: DataFrame, xCol: String, yCol: String,
      bucketWidth: Double = 10.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pts = df.select(col(xCol).as("x"), col(yCol).as("y")).distinct()
      .withColumn("b", floor(col("x").cast("double") / lit(bucketWidth)))
    val bucketMins = pts.groupBy(col("b")).agg(min(col("y")).as("bmin"))
      .withColumn("carry", min(col("bmin")).over(
        Window.orderBy(col("b"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("b"), col("carry"))
    val local = Window.partitionBy(col("b"))
      .orderBy(col("x").asc, col("y").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    pts.join(broadcast(bucketMins), Seq("b"))
      .withColumn("mp", least(min(col("y")).over(local), col("carry")))
      .where(col("mp").isNull || col("y") < col("mp"))
      .select(col("x"), col("y"))
  }

  /** BM25 document retrieval for a fixed query-term set (Robertson &
    * Spärck Jones probabilistic relevance framework, public). Per
    * matched (doc, term):
    *
    * {{{ score_t = (N − df + 0.5)/(df + 0.5)                    [idf]
    *             · tf·(k1+1) / (tf + k1·(0.25 + 0.75·dl/avgdl)) }}}
    *
    * with the STANDARD deviation, documented: the idf keeps its rational
    * argument un-logged. `ln` is not correctly-rounded across engines
    * (JVM `Math.log` guarantees 1 ulp, not 0.5), so a logged idf cannot
    * hash-match a second engine bit-for-bit; the un-logged form is a
    * strictly monotone per-term transform computable with IEEE `+,-,*,/`
    * only. Cross-term totals then weight rare terms more sharply than
    * logged BM25 — acceptable for dedup/quality retrieval, and exactly
    * reproducible anywhere.
    *
    * The cross-term sum is NOT a float aggregation (summation order
    * would be nondeterministic): each query term pivots to its own
    * column via `max(when(token = t))` — at most one value, so `max` is
    * exact — and the total is an explicit left-associated coalesce
    * chain, fixed evaluation order, replicated verbatim by the oracle.
    *
    * Scale: terms filter BEFORE any join (the scored relation holds
    * only query-term rows, ≤ |terms| per doc); df/dl/avgdl derive from
    * the tf relation (one (doc,token) shuffle); corpus scalars
    * broadcast; final top-k is TakeOrderedAndProject, never a global
    * sort. Output: (rank, doc_id, n_terms, score). */
  def bm25TopDocs(documents: DataFrame, queryTerms: Seq[String],
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // k1, b are pinned: every constant below is a PARSED decimal literal
    // (2.2, 1.2, 0.25, 0.75) present verbatim in the oracle SQL — a
    // driver-side k1+1.0 would land on a round-to-nearest TIE (2.2 is
    // exactly between two doubles from that sum) and could differ from
    // an engine that parses "2.2" directly
    require(queryTerms.nonEmpty && k1 == 1.2 && b == 0.75,
      "constants are pinned for cross-engine literal parity")
    val tokens = documents.select(col("doc_id"),
      explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
    val tf = tokens.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val qtf = tf.where(col("token").isin(queryTerms: _*))
    val dfreq = qtf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val dls = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dls.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_len"))
    val idf = ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val avgdl = col("total_len").cast("double") / col("n_docs").cast("double")
    val sat = col("tf").cast("double") * lit(2.2) /
      (col("tf").cast("double") +
        lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl)))
    val scored = qtf.join(broadcast(dfreq), "token")
      .join(dls, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("token"), (idf * sat).as("score"))
    val pivots = queryTerms.map(term =>
      max(when(col("token") === term, col("score"))).as(s"s_$term"))
    val perDoc = scored.groupBy(col("doc_id"))
      .agg(pivots.head, pivots.tail: _*)
    val total = queryTerms.map(term => coalesce(col(s"s_$term"), lit(0.0)))
      .reduceLeft(_ + _)
    val nTerms = queryTerms.map(term =>
      when(col(s"s_$term").isNotNull, 1).otherwise(0)).reduceLeft(_ + _)
    val top = perDoc
      .select(col("doc_id"), nTerms.as("n_terms"), total.as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id").asc)))
      .select(col("rank"), col("doc_id"), col("n_terms"), col("score"))
  }

  /** nDCG@10 of the BM25 ranking (Järvelin & Kekäläinen, TOIS 2002 —
    * public): the retrieval-quality number that checks not just
    * WHETHER relevant documents come back but whether the MOST
    * relevant come back FIRST. Graded relevance is term coverage —
    * how many of the query terms the document contains (0..|q|) — the
    * deterministic label a self-supervised eval can compute at corpus
    * scale; gain(rel) = 2^rel − 1 (exact integers), discount
    * w_r = 1/log₂(r+1) for r = 1..10 quantized once to 12-dp DECIMAL
    * literals (the trig-basis recipe: the libm call happens zero
    * times at query time), so DCG = Σ gain·w is EXACT decimal
    * arithmetic. IDCG needs no ranking at all: equal-relevance ties
    * are gain-equal, so the ideal top-10 is determined by the COUNTS
    * per relevance level — IDCG = Σ_level gain(l)·(W(hi) − W(lo))
    * with W the 11 prefix-sum literals of the discounts. The one
    * IEEE step is the final dcg/idcg division.
    *
    * Scale: rel is a per-row expression; DCG joins a 10-row ranked
    * list (broadcast); IDCG is ONE count aggregation. Output:
    * (n_ranked, dcg_10, idcg_10, ndcg_10). */
  def ndcgAt10(documents: DataFrame, queryTerms: Seq[String])
      : DataFrame = {
    require(queryTerms.nonEmpty && queryTerms.size <= 3,
      "term-coverage relevance is graded 0..3 here (gain table)")
    val wLit = Seq("1.000000000000", "0.630929753571",
      "0.500000000000", "0.430676558073", "0.386852807235",
      "0.356207187108", "0.333333333333", "0.315464876786",
      "0.301029995664", "0.289064826318")
    val cumLit = Seq("0.000000000000", "1.000000000000",
      "1.630929753571", "2.130929753571", "2.561606311644",
      "2.948459118879", "3.304666305987", "3.637999639320",
      "3.953464516106", "4.254494511770", "4.543559338088")
    val cdec = DecimalType(14, 12)
    val sdec = DecimalType(38, 12)
    val rel = documents.select(col("doc_id"),
      size(array_intersect(
        array_distinct(split(trim(lower(col("text"))), "\\s+")),
        lit(queryTerms.toArray))).as("rel"))
    // gain(rel) = 2^rel - 1 over the 0..3 coverage grades; gains
    // stay DECIMAL(20,0) so gain x weight never hits the 38-digit
    // precision cap (a (38,12)x(14,12) product would)
    val gdec = DecimalType(20, 0)
    val gain = when(col("rel") === 3, lit(7L)).when(col("rel") === 2,
      lit(3L)).when(col("rel") === 1, lit(1L)).otherwise(lit(0L))
      .cast(gdec)
    val wByRank = (2 to 10).foldLeft(
      when(col("rank") === 1, lit(wLit(0)).cast(cdec))) { (acc, r) =>
      acc.when(col("rank") === r, lit(wLit(r - 1)).cast(cdec))
    }
    val ranked = bm25TopDocs(documents, queryTerms, k = 10)
      .select(col("doc_id"), col("rank"))
    // the 10-row ranked list broadcasts INTO the rel scan — never the
    // corpus-sized relevance relation the other way
    val dcg = rel.join(broadcast(ranked), "doc_id")
      .agg(count(lit(1)).as("n_ranked"),
        coalesce(sum((gain * wByRank).cast(sdec)),
          lit(0L).cast(sdec)).as("dcg"))
    // ideal ordering from level counts alone: rel-3 docs fill ranks
    // 1..min(c3,10), rel-2 the next slots, rel-1 the rest
    val counts = rel.agg(
      sum(when(col("rel") === 3, 1L).otherwise(0L)).as("c3"),
      sum(when(col("rel") === 2, 1L).otherwise(0L)).as("c2"),
      sum(when(col("rel") === 1, 1L).otherwise(0L)).as("c1"))
    def wPrefix(slots: Column): Column =
      cumLit.zipWithIndex.tail.foldLeft(
        when(slots <= 0, lit(cumLit(0)).cast(cdec))) {
        case (acc, (w, i)) => acc.when(slots === i, lit(w).cast(cdec))
      }.otherwise(lit(cumLit(10)).cast(cdec))
    val a = least(col("c3"), lit(10L))
    val b = least(col("c3") + col("c2"), lit(10L))
    val c = least(col("c3") + col("c2") + col("c1"), lit(10L))
    val idcg = counts.select(
      (lit(7L).cast(gdec) * wPrefix(a) +
        lit(3L).cast(gdec) * (wPrefix(b) - wPrefix(a)) +
        lit(1L).cast(gdec) * (wPrefix(c) - wPrefix(b))).cast(sdec)
        .as("idcg"))
    dcg.crossJoin(broadcast(idcg))
      .select(col("n_ranked"),
        col("dcg").cast("double").as("dcg_10"),
        col("idcg").cast("double").as("idcg_10"),
        when(col("idcg") > lit(0L).cast(sdec),
          col("dcg").cast("double") / col("idcg").cast("double"))
          .otherwise(lit(Double.NaN)).as("ndcg_10"))
  }

  /** The binary-relevance retrieval metrics that accompany
    * [[ndcgAt10]] on every eval dashboard (public classics —
    * Voorhees' TREC definitions): binary relevance = "covers at least
    * TWO distinct query terms" — strictly harder than the retriever's
    * own admission criterion (any one term), because a label the
    * ranker satisfies by construction measures nothing. Over the BM25
    * top-10:
    *   MRR        = 1 / rank of the first relevant hit (0 if none)
    *   P@10       = hits / 10
    *   recall@10  = hits / R    (R = all relevant docs in the corpus)
    *   AP@10      = Σ_{i : rel_i} (cum_rel(i)/i) / min(R, 10)
    * MRR/P/R are exact-integer aggregations with one final division
    * each; AP's per-rank precision terms are single IEEE divisions of
    * small exact integers, each quantized to the 10⁻¹² grid (HALF_UP
    * both engines via the VARCHAR-routed downcast oracle-side) and
    * summed in EXACT decimal — a 10-term double sum would be
    * association-ordered, the quantized sum is order-free.
    *
    * Scale: the 10-row ranked list broadcasts into the relevance
    * scan; cum_rel comes from a 10×10 broadcast self-join — no
    * window, nothing corpus-shaped after the scans. */
  def retrievalMetricsAt10(documents: DataFrame,
      queryTerms: Seq[String]): DataFrame = {
    val qdec = DecimalType(18, 12)
    val rel = documents.select(col("doc_id"),
      (size(array_intersect(
        array_distinct(split(trim(lower(col("text"))), "\\s+")),
        lit(queryTerms.toArray))) >= 2).as("r"))
    val ranked = bm25TopDocs(documents, queryTerms, k = 10)
      .select(col("doc_id"), col("rank"))
    val joined = rel.join(broadcast(ranked), "doc_id")
      .select(col("doc_id"), col("rank"), col("r"))
    val totals = rel.agg(
      sum(when(col("r"), 1L).otherwise(0L)).as("n_relevant"))
    val base = joined.agg(
      sum(when(col("r"), 1L).otherwise(0L)).as("hits"),
      min(when(col("r"), col("rank"))).as("first_rel"))
    // cum_rel(i) over the 10-row list via broadcast self-join — the
    // windowless spelling of a cumulative count
    val cum = joined.as("a")
      .join(broadcast(joined.as("b")), col("b.rank") <= col("a.rank"))
      .groupBy(col("a.rank").as("rank"), col("a.r").as("r"))
      .agg(sum(when(col("b.r"), 1L).otherwise(0L)).as("cum_rel"))
    val apNum = cum.agg(coalesce(
      sum(when(col("r"),
        (col("cum_rel").cast("double") / col("rank").cast("double"))
          .cast(qdec))),
      lit(0L).cast(qdec)).as("ap_num"))
    base.crossJoin(broadcast(totals)).crossJoin(broadcast(apNum))
      .select(col("n_relevant"), col("hits").as("hits_10"),
        coalesce(lit(1.0) / col("first_rel").cast("double"), lit(0.0))
          .as("mrr"),
        (col("hits").cast("double") / lit(10.0)).as("p_at_10"),
        when(col("n_relevant") > 0L,
          col("hits").cast("double") / col("n_relevant").cast("double"))
          .otherwise(lit(Double.NaN)).as("recall_at_10"),
        when(least(col("n_relevant"), lit(10L)) > 0L,
          col("ap_num").cast("double") /
            least(col("n_relevant"), lit(10L)).cast("double"))
          .otherwise(lit(Double.NaN)).as("ap_10"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR'09 —
    * public) of two rankings over the same id space — the standard way
    * to combine a lexical retriever (BM25) with a vector retriever
    * (embedding ANN) into one hybrid result list without score
    * calibration: only RANKS cross the boundary, so the two scoring
    * scales never need to be commensurable.
    *
    * `rrf = 1/(c + rank_a) + 1/(c + rank_b)` with a missing side
    * contributing 0 — two IEEE divisions of exact small integers summed
    * in a pinned order, so fused scores are bit-reproducible anywhere.
    * Both inputs are top-k lists (tiny), so the fusion join broadcasts;
    * the final rank is a window over ≤ 2k rows. Output: (rank, id,
    * rank_a, rank_b, rrf) ordered by (rrf desc, id). */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String = "doc_id",
      rankCol: String = "rank", c: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ra = a.select(col(idCol).as("id"), col(rankCol).as("rank_a"))
    val rb = b.select(col(idCol).as("id"), col(rankCol).as("rank_b"))
    val fused = ra.join(rb, Seq("id"), "full_outer")
      .select(col("id"), col("rank_a"), col("rank_b"),
        (coalesce(lit(1.0) / (lit(c).cast("double") +
            col("rank_a").cast("double")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c).cast("double") +
            col("rank_b").cast("double")), lit(0.0))).as("rrf"))
    fused.withColumn("rank", row_number().over(
        Window.orderBy(col("rrf").desc, col("id").asc)))
      .select(col("rank"), col("id"), col("rank_a"), col("rank_b"),
        col("rrf"))
  }

  /** First-order Markov transition model over each key's ordered event
    * sequence — the behavioral-modeling / synthetic-sequence primitive:
    * P(next = b | current = a) estimated as exact transition counts
    * over consecutive pairs, normalized per source state.
    *
    * Exact by construction: counts are longs, the per-source total is
    * a partitioned window sum of longs, and the probability is ONE
    * double division of the two — no float accumulation anywhere.
    *
    * Scale: `lead` over (key, ts, id) is a key-partitioned window
    * (never single-partition); the pair aggregation is a hash agg on
    * (from, to) whose cardinality is |types|² — tiny — so the window
    * total over `from_type` is bounded. Output: (from_type, to_type,
    * n, p) — rows with no successor (each key's last event) drop out. */
  /** Welch's two-sample t statistic per group (Welch 1947 — public):
    * the A/B-experiment readout. For each group, arm A and arm B get
    * exact count / mean / sample variance, and
    * `t = (mean_a − mean_b) / sqrt(var_a/n_a + var_b/n_b)`.
    *
    * Exactness follows the agg_stats_exact discipline: Σx and Σx² are
    * DECIMAL-accumulated (order-free) and every derived value is a
    * pinned sequence of single IEEE ops (sqrt included — correctly
    * rounded per IEEE 754), so the statistic is engine-reproducible.
    * Arms with n < 2 have undefined variance → t is null.
    *
    * Scale: one conditional hash aggregation over (group) — partial
    * aggregation map-side, no window, no shuffle beyond the group key.
    * Output: (group, n_a, mean_a, var_a, n_b, mean_b, var_b, t). */
  def abWelch(df: DataFrame, groupCol: String, armCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(22, 6)
    def dsum(c: Column): Column = sum(c.cast(dec)).cast("double")
    val a = col(armCol) === 0
    val v = col(valueCol)
    val agg = df.where(v.isNotNull)
      .groupBy(col(groupCol))
      .agg(
        count(when(a, lit(1))).as("n_a"),
        dsum(when(a, v)).as("s_a"),
        dsum(when(a, v * v)).as("s2_a"),
        count(when(!a, lit(1))).as("n_b"),
        dsum(when(!a, v)).as("s_b"),
        dsum(when(!a, v * v)).as("s2_b"))
    def meanOf(s: String, n: String): Column =
      col(s) / col(n).cast("double")
    def varOf(s: String, s2: String, n: String): Column =
      when(col(n) >= 2,
        (col(s2) - (col(s) * col(s)) / col(n).cast("double")) /
          (col(n).cast("double") - lit(1.0)))
    agg.select(col(groupCol),
        col("n_a"), meanOf("s_a", "n_a").as("mean_a"),
        varOf("s_a", "s2_a", "n_a").as("var_a"),
        col("n_b"), meanOf("s_b", "n_b").as("mean_b"),
        varOf("s_b", "s2_b", "n_b").as("var_b"))
      .withColumn("t",
        (col("mean_a") - col("mean_b")) /
          sqrt(col("var_a") / col("n_a").cast("double") +
            col("var_b") / col("n_b").cast("double")))
  }

  /** Herfindahl–Hirschman concentration index per group (Herfindahl
    * 1950 / Hirschman 1945 — public; a.k.a. Simpson's index): how
    * concentrated each group's activity is across units, `HHI =
    * Σ_u n_u² / (Σ_u n_u)²` ∈ (0, 1] — 1 when one unit owns the whole
    * group, → 1/#units under a uniform spread. The dataset-balance
    * audit for training mixes: a source whose documents all come from
    * one crawl host, or an event type driven by one user, jumps out.
    *
    * Exact: both sums are BIGINT hash aggregations (n_u ≤ 3 M keeps
    * n_u² in long range; the two-level agg keeps everything exact) and
    * the index is ONE double division of the two — engine-independent.
    *
    * Scale: two hash aggregations, (group, unit) then group — the
    * canonical map-side-combine shape, no windows, no collects.
    * Output: (group, n_units, total, sum_sq, hhi). */
  def concentrationIndex(df: DataFrame, groupCol: String,
      unitCol: String): DataFrame = {
    val perUnit = df.groupBy(col(groupCol), col(unitCol))
      .agg(count(lit(1)).as("n_u"))
    perUnit.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_units"),
        sum(col("n_u")).as("total"),
        sum(col("n_u") * col("n_u")).as("sum_sq"))
      .select(col(groupCol), col("n_units"), col("total"), col("sum_sq"),
        (col("sum_sq").cast("double") /
          (col("total") * col("total")).cast("double")).as("hhi"))
  }

  /** Day-of-week seasonality profile per event type: exact counts per
    * (type, dow) cell plus each cell's share of its type's total — the
    * weekly-rhythm fingerprint monitoring dashboards diff against. The
    * share denominator is a type-partitioned window sum of longs (25ish
    * rows per type after aggregation — trivially bounded), and the
    * share itself one double division.
    *
    * `dow` follows Spark's `dayofweek`: 1 = Sunday … 7 = Saturday.
    * Output: (event_type, dow, n, share). */
  def seasonalityProfile(events: DataFrame,
      typeCol: String = "event_type", tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = events
      .groupBy(col(typeCol), dayofweek(col(tsCol)).cast("long").as("dow"))
      .agg(count(lit(1)).as("n"))
    val tot = Window.partitionBy(col(typeCol))
    cells.select(col(typeCol), col("dow"), col("n"),
      (col("n").cast("double") / sum(col("n")).over(tot).cast("double"))
        .as("share"))
  }

  /** Classical additive seasonal decomposition (the moving-average
    * core of STL, Cleveland et al. 1990, public): per key the daily
    * total y decomposes as y = trend + seasonal + resid with
    *   trend    = centered 7-day rolling mean (full windows only —
    *              edges stay null, the standard convention),
    *   seasonal = per day-of-week mean of the detrended series,
    *   resid    = the remainder.
    *
    * Determinism: daily totals and every mean accumulate in DECIMAL
    * (the dsum pattern); divisions are single IEEE ops on identical
    * operands in any engine.
    *
    * Scale: one shuffle to daily grain (map-side combined — the raw
    * event volume collapses to |keys|·|days| rows before moving), then
    * a per-key ordered window over DAYS (bounded by the calendar, not
    * the corpus) and a (key, dow) aggregation of ≤ 7 rows per key.
    * Output: (event_type, day, y, trend, seasonal, resid). */
  def seasonalDecompose(events: DataFrame,
      typeCol: String = "event_type", tsCol: String = "ts",
      valCol: String = "value"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .groupBy(col(typeCol), to_date(col(tsCol)).as("day"))
      .agg(sum(col(valCol).cast(DecimalType(22, 6))).cast("double")
        .as("y"))
    val w7 = Window.partitionBy(col(typeCol)).orderBy(col("day"))
      .rowsBetween(-3, 3)
    val withTrend = daily.withColumn("trend",
      when(count(lit(1)).over(w7) === 7,
        sum(col("y").cast(DecimalType(22, 6))).over(w7).cast("double")
          / lit(7.0)))
    val det = withTrend.withColumn("det", col("y") - col("trend"))
    val wDow = Window.partitionBy(col(typeCol),
      (dayofweek(col("day")) - 1).as("dow"))
    val seasonal = det.withColumn("seasonal",
      when(col("det").isNotNull,
        sum(col("det").cast(DecimalType(22, 6))).over(wDow)
            .cast("double") /
          count(col("det")).over(wDow).cast("double")))
    seasonal.select(col(typeCol), col("day"), col("y"), col("trend"),
      col("seasonal"),
      (col("y") - col("trend") - col("seasonal")).as("resid"))
  }

  def markovTransitions(events: DataFrame, key: String = "user_id",
      tsCol: String = "ts", idCol: String = "event_id",
      typeCol: String = "event_type"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seq0 = Window.partitionBy(col(key))
      .orderBy(col(tsCol), col(idCol))
    val counts = events
      .withColumn("next_type", lead(col(typeCol), 1).over(seq0))
      .where(col("next_type").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val tot = Window.partitionBy(col("from_type"))
    counts.select(col("from_type"), col("to_type"), col("n"),
      (col("n").cast("double") /
        sum(col("n")).over(tot).cast("double")).as("p"))
  }

  /** Market-basket association rules (Apriori's two frequent passes, the
    * only part a recommender pipeline needs at item-pair order): pairs
    * of items co-occurring in a basket, with support counts and the
    * classic rule stats — confidence in both directions and lift.
    *
    * Scale: pass 1 is one hash aggregation producing the per-item
    * support frame, which is bounded by the ITEM VOCABULARY (not the
    * row count) and broadcasts; infrequent items are pruned before any
    * pair is formed, so the pair generator — a self-join co-located on
    * the basket key, ONE shuffle of the (basket, item) frame — emits
    * O(Σ_b k_b²) rows where k_b is the per-basket count of FREQUENT
    * items (basket sizes are bounded by the domain: an order has a
    * handful of lines). No all-pairs over the vocabulary, no driver
    * loop over itemsets; `a < b` canonicalization halves the pair
    * space and makes each rule row unique.
    *
    * Output: (item_a, item_b, n_ab, n_a, n_b, conf_a_to_b, conf_b_to_a,
    * lift), ranked by lift DESC with (item_a, item_b) tie-break,
    * top `topK`. All stats are exact longs + single IEEE divisions. */
  def marketBasketRules(baskets: DataFrame, basketCol: String,
      itemCol: String, minSupport: Long, topK: Int): DataFrame = {
    val items = baskets
      .select(col(basketCol).as("b"), col(itemCol).as("i"))
      .where(col("b").isNotNull && col("i").isNotNull)
      .distinct()
    val support = items.groupBy(col("i")).agg(count(lit(1)).as("n_i"))
      .where(col("n_i") >= minSupport)
    val fi = items.join(broadcast(support), "i")
    val pairs = fi.as("x").join(fi.as("y"),
        col("x.b") === col("y.b") && col("x.i") < col("y.i"))
      .groupBy(col("x.i").as("item_a"), col("y.i").as("item_b"),
        col("x.n_i").as("n_a"), col("y.n_i").as("n_b"))
      .agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minSupport)
    // 1-row total frame: the standard bounded cross-join broadcast
    val tot = items.agg(countDistinct(col("b")).as("n_baskets"))
    pairs.crossJoin(broadcast(tot))
      .select(col("item_a"), col("item_b"), col("n_ab"), col("n_a"),
        col("n_b"),
        (col("n_ab").cast("double") / col("n_a").cast("double"))
          .as("conf_a_to_b"),
        (col("n_ab").cast("double") / col("n_b").cast("double"))
          .as("conf_b_to_a"),
        (col("n_ab").cast("double") * col("n_baskets").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")))
          .as("lift"))
      .orderBy(col("lift").desc, col("item_a"), col("item_b"))
      .limit(topK)
  }

  /** Kaplan–Meier survival estimator over the event log: time from a
    * subject's first `startType` event to its first LATER `eventType`
    * event, right-censored at the subject's last observed activity
    * when no conversion happens. Output: one row per distinct EVENT
    * time (d > 0) with deaths `d`, censored-at-that-time `c`, the
    * at-risk count `n_risk`, and the LOG of the product-limit survival
    * estimate, ln S(t) = Σ_{tⱼ≤t} ln(1 − dⱼ/nⱼ) (log domain: exp() is
    * not bit-identical across engines; S itself is one exp() away).
    *
    * Determinism: durations are exact integer micros end to end; the
    * running product is accumulated as Σ ⌊ln(1 − d/n)·10¹⁵⌋ in BIGINT
    * (a documented 10⁻¹⁵ log-grid — order-independent, bit-identical
    * across engines) and exponentiated once per row.
    *
    * Scale: two aggregations collapse the corpus to one row per
    * subject, then one row per distinct duration; both running totals
    * (at-risk countdown, log-survival) ride
    * [[RelationalOps.distributedPrefixSum]] — the two-phase scan, so
    * no global single-partition window even when distinct event times
    * approach the subject count. */
  def kaplanMeier(events: DataFrame, user: String = "user_id",
      tsCol: String = "ts", startType: String = "view",
      eventType: String = "purchase"): DataFrame = {
    val us = events.where(col(user).isNotNull)
      .groupBy(col(user))
      .agg(min(when(col("event_type") === startType,
          unix_micros(col(tsCol)))).as("t0"),
        max(unix_micros(col(tsCol))).as("t_last"))
      .where(col("t0").isNotNull)
    val conv = events
      .where(col("event_type") === eventType && col(user).isNotNull)
      .select(col(user), unix_micros(col(tsCol)).as("te"))
    val subj = us.join(conv, Seq(user), "left_outer")
      .groupBy(col(user), col("t0"), col("t_last"))
      .agg(min(when(col("te") > col("t0"), col("te"))).as("t_evt"))
      .select(
        when(col("t_evt").isNotNull, col("t_evt") - col("t0"))
          .otherwise(col("t_last") - col("t0")).as("dur_us"),
        col("t_evt").isNotNull.cast("long").as("ev"))
      .where(col("dur_us") > 0)
    val grouped = subj.groupBy(col("dur_us"))
      .agg(sum(col("ev")).as("d"),
        sum(lit(1L) - col("ev")).as("c"),
        count(lit(1)).as("tot"))
    val total = subj.agg(count(lit(1)).as("_N"))
    val risk = RelationalOps.distributedPrefixSum(grouped, "dur_us", "tot")
      .crossJoin(broadcast(total))
      .withColumn("n_risk", col("_N") - (col("cum") - col("tot")))
      .drop("cum", "_N", "tot")
    // d == n_risk (everyone remaining converts at t): S = 0, ln S =
    // −∞ — a −2·10¹⁸ sentinel (reads as ln S = −2000; can't wrap: at
    // most one such row can exist and every other term is ≤ 0 ≥ −10¹⁶)
    // keeps ln(0) out of the sum while pinning the row unmistakably
    val evRows = risk.where(col("d") > 0)
      .withColumn("lnfp", when(col("d") >= col("n_risk"),
          lit(-2000000000000000000L))
        .otherwise(floor(log(lit(1.0) -
          col("d").cast("double") / col("n_risk").cast("double")) *
          lit(1e15)).cast("long")))
    // report ln S(t), not S(t): the cumulative is an exact BIGINT on
    // the log grid, and BIGINT→DOUBLE + one IEEE division is
    // bit-identical across engines — exp() is NOT (JVM vs libm differ
    // in the last ulp), so the exponentiation is left to the consumer
    RelationalOps.distributedPrefixSum(evRows, "dur_us", "lnfp")
      .withColumn("log_survival", col("cum").cast("double") / lit(1e15))
      .select(col("dur_us"), col("d"), col("c"), col("n_risk"),
        col("log_survival"))
  }

  /** Autocorrelation function of each event type's daily-count series
    * at lags 1..`maxLag` (Box–Jenkins: lag-k products over the overlap
    * window, mean and variance from the FULL series). All sufficient
    * statistics are exact integers — letting n, S = Σx, Q = Σx²,
    * m = n−k, Pk = Σ xₜ·xₜ₊ₖ, Sh/St the head/tail sums of the overlap,
    *   acf_k = (n²·Pk − n·S·(Sh+St) + m·S²) / (n²·Q − n·S²)
    * (the mean-centered form with every term cleared of the 1/n
    * denominators), so the only floating-point step is one final
    * division — bit-reproducible on any engine.
    *
    * Scale: the corpus collapses to the |types|×|days| daily relation
    * in one aggregation; the per-type window and the lag self-join run
    * on that bounded relation (a 100-TB log is still ≤ years×types
    * rows here). Products accumulate in DECIMAL(38,0): daily counts to
    * 10¹⁰ and series to 10⁵ points stay exact. */
  def autocorrelation(events: DataFrame, maxLag: Int = 3,
      typeCol: String = "event_type", tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .groupBy(col(typeCol).as("event_type"), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("x"))
    // t-index over the daily relation: bounded per type by the
    // calendar, not the corpus
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val idx = daily.select(col("event_type"), col("x"),
      row_number().over(w).as("t"))
    val dec = DecimalType(38, 0)
    val base = idx.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("x")).cast(dec).as("s"),
      sum(col("x").cast(DecimalType(19, 0)) *
        col("x").cast(DecimalType(19, 0))).cast(dec).as("q"))
    // shift the series: a row at position t' pairs with the base row
    // at t = t'−lag, one exploded copy per lag
    val shifted = idx.withColumn("lag",
        explode(sequence(lit(1L), lit(maxLag.toLong))))
      .select(col("event_type"), col("x").as("xl"),
        (col("t") - col("lag")).as("t"), col("lag"))
    val lagged = idx.join(shifted, Seq("event_type", "t"))
    val ov = lagged.groupBy(col("event_type"), col("lag")).agg(
      count(lit(1)).as("m"),
      sum(col("x").cast(DecimalType(19, 0)) *
        col("xl").cast(DecimalType(19, 0))).cast(dec).as("pk"),
      sum(col("x")).cast(dec).as("sh"),
      sum(col("xl")).cast(dec).as("st"))
    ov.join(base, "event_type")
      .select(col("event_type"), col("lag"), col("n"),
        ((col("n").cast(dec) * col("n").cast(dec) * col("pk") -
          col("n").cast(dec) * col("s") * (col("sh") + col("st")) +
          col("m").cast(dec) * col("s") * col("s")).cast("double") /
         (col("n").cast(dec) * col("n").cast(dec) * col("q") -
          col("n").cast(dec) * col("s") * col("s")).cast("double"))
          .as("acf"))
  }

  /** Lagged cross-correlation between two event types' daily-count
    * series (x leads, y lags by `lag` days), lags 0..`maxLag` — the
    * "views today predict purchases in k days" diagnostic. Same
    * exact-integer sufficient-statistics construction as
    * [[autocorrelation]]; the denominator is the full-series
    * √(Σ(x−x̄)²·Σ(y−ȳ)²) computed as one IEEE multiply + sqrt of the
    * two cleared integer variance terms. Days absent from one series
    * count 0 (full outer day alignment). */
  def crossCorrelation(events: DataFrame, typeX: String, typeY: String,
      maxLag: Int = 3, typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    val daily = events
      .where(col(typeCol).isin(typeX, typeY))
      .groupBy(to_date(col(tsCol)).as("day"))
      .agg(count(when(col(typeCol) === typeX, 1)).as("x"),
        count(when(col(typeCol) === typeY, 1)).as("y"))
    // the day axis is bounded by the calendar (≤ years of rows), so a
    // single rank window over the DAILY relation is a bounded frame in
    // the same sense as seasonalDecompose's — not a corpus window;
    // still, keep it partition-free-safe by ranking via the bucketed
    // prefix sum when the day span is unbounded. Here: the daily
    // relation after the first aggregation.
    val idx = RelationalOps.distributedPrefixSum(
        daily.select(unix_date(col("day")).cast("long").as("dnum"),
          col("x"), col("y")).withColumn("one", lit(1L)),
        "dnum", "one")
      .select(col("x"), col("y"), col("cum").as("t"))
    val dec = DecimalType(38, 0)
    val base = idx.agg(
      count(lit(1)).as("n"),
      sum(col("x")).cast(dec).as("sx"),
      sum(col("y")).cast(dec).as("sy"),
      sum(col("x").cast(DecimalType(19, 0)) *
        col("x").cast(DecimalType(19, 0))).cast(dec).as("qx"),
      sum(col("y").cast(DecimalType(19, 0)) *
        col("y").cast(DecimalType(19, 0))).cast(dec).as("qy"))
    val shifted = idx.withColumn("lag",
        explode(sequence(lit(0L), lit(maxLag.toLong))))
      .select(col("y").as("yl"), (col("t") - col("lag")).as("t"),
        col("lag"))
    val lagged = idx.join(shifted, Seq("t"))
    val ov = lagged.groupBy(col("lag")).agg(
      count(lit(1)).as("m"),
      sum(col("x").cast(DecimalType(19, 0)) *
        col("yl").cast(DecimalType(19, 0))).cast(dec).as("pk"),
      sum(col("x")).cast(dec).as("sh"),
      sum(col("yl")).cast(dec).as("st"))
    ov.crossJoin(broadcast(base))
      .select(col("lag"), col("n"), col("m"),
        ((col("n").cast(dec) * col("n").cast(dec) * col("pk") -
          col("n").cast(dec) * col("sx") * col("st") -
          col("n").cast(dec) * col("sy") * col("sh") +
          col("m").cast(dec) * col("sx") * col("sy")).cast("double") /
          sqrt((col("n").cast(dec) * col("n").cast(dec) * col("qx") -
              col("n").cast(dec) * col("sx") * col("sx")).cast("double") *
            (col("n").cast(dec) * col("n").cast(dec) * col("qy") -
              col("n").cast(dec) * col("sy") * col("sy")).cast("double")))
          .as("ccf"))
  }

  /** Benford first-digit deviation audit (Newcomb–Benford law; the
    * classic fraud/data-quality screen): the distribution of leading
    * significant digits of `valueCol` against log₁₀(1+1/d), with the
    * per-digit χ² contribution. The leading digit comes from the
    * DECIMAL(18,2) string rendering (both engines print plain decimal
    * notation — a double rendering would diverge in scientific-notation
    * corners), and the expected probabilities are fixed literals so no
    * transcendental function enters the comparison.
    *
    * Scale: one hash aggregation to ≤9 rows; everything after is
    * arithmetic on the digit table. */
  def benfordDeviation(df: DataFrame, valueCol: String): DataFrame = {
    val firstDigit = regexp_extract(
      col(valueCol).cast(DecimalType(18, 2)).cast("string"),
      "[1-9]", 0)
    val counts = df.select(firstDigit.as("digit"))
      .where(col("digit") =!= "")
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val totals = counts.agg(sum(col("n")).as("total"))
    // log10(1+1/d) to 17 significant digits — double-exact literals
    val pExp = Map(
      "1" -> 0.30102999566398120, "2" -> 0.17609125905568124,
      "3" -> 0.12493873660829993, "4" -> 0.09691001300805642,
      "5" -> 0.07918124604762482, "6" -> 0.06694678963061322,
      "7" -> 0.05799194697768673, "8" -> 0.05115252244738129,
      "9" -> 0.04575749056067514)
    val expCol = pExp.foldLeft(lit(Double.NaN)) { case (acc, (d, p)) =>
      when(col("digit") === d, lit(p)).otherwise(acc)
    }
    counts.crossJoin(broadcast(totals))
      .withColumn("p_exp", expCol)
      .withColumn("p_obs",
        col("n").cast("double") / col("total").cast("double"))
      .withColumn("chi2",
        (col("p_obs") - col("p_exp")) * (col("p_obs") - col("p_exp")) /
          col("p_exp") * col("total").cast("double"))
      .select(col("digit"), col("n"), col("p_obs"), col("p_exp"),
        col("chi2"))
  }

  /** t-closeness audit (Li–Li–Venkatasubramanian 2007) with the
    * variational (total-variation) distance: for each quasi-identifier
    * class, TVD between the class's sensitive-attribute distribution
    * and the global one —
    *   TVD = Σ_s |n_cs·N − N_s·n_c| / (2·n_c·N).
    * The numerator accumulates the EXACT integer cross-products in
    * DECIMAL(38,0) (n_cs·N reaches rows² — a long wraps at ~3·10⁹
    * rows), so the one floating-point step is the final division.
    * Completes the privacy triad beside k-anonymity and l-diversity.
    *
    * Scale: three aggregations of the joined relation plus a
    * |classes|×|sensitive-values| grid built by broadcasting the
    * (small, bounded-cardinality) sensitive-value marginal — no
    * corpus-sized join. */
  def tCloseness(df: DataFrame, qiCols: Seq[String],
      sensitiveCol: String): DataFrame = {
    val qi = qiCols.map(col)
    val cells = df.groupBy(qi :+ col(sensitiveCol): _*)
      .agg(count(lit(1)).as("n_cs"))
    val classes = df.groupBy(qi: _*).agg(count(lit(1)).as("n_c"))
    val marginal = df.groupBy(col(sensitiveCol))
      .agg(count(lit(1)).as("n_s"))
    val total = df.agg(count(lit(1)).as("n_tot"))
    val grid = classes
      .crossJoin(broadcast(marginal.crossJoin(total)))
      .join(cells, qiCols :+ sensitiveCol, "left_outer")
      .withColumn("n_cs", coalesce(col("n_cs"), lit(0L)))
    val dec = DecimalType(38, 0)
    grid.groupBy((qi :+ col("n_c").as("n_c")): _*)
      .agg(max(col("n_tot")).as("n_tot"),
        sum(abs(col("n_cs").cast(dec) * col("n_tot").cast(dec) -
          col("n_s").cast(dec) * col("n_c").cast(dec))).as("tvd_num"))
      .select((qi :+ col("n_c") :+
        (col("tvd_num").cast("double") /
          (lit(2.0) * col("n_c").cast("double") *
            col("n_tot").cast("double"))).as("t_closeness")): _*)
  }

  /** Mann–Whitney U rank-sum test between two arms of `armCol` on the
    * cent-quantized `valueCol` (quantization makes the rank key
    * integral for the bucketed prefix scan and pins tie groups
    * identically on every engine). Midranks come CLOSED-FORM from the
    * tie-group decomposition — for a distinct value with `prev`
    * predecessors and m members, Σ midranks of one arm's n1v members
    * is n1v·(2·prev + m + 1)/2 — so no per-row global rank exists
    * anywhere (the Gini construction). Emits n1, n2, U₁, U₂, the
    * tie-correction term Σ(m³−m), and the tie-corrected normal
    * z-statistic (one sqrt at the end; everything upstream is exact
    * integer/decimal arithmetic).
    *
    * Scale: values collapse to (distinct cents, per-arm counts) in one
    * aggregation; the prefix sum is the two-phase bucket scan. */
  def mannWhitneyU(df: DataFrame, armCol: String, armA: String,
      armB: String, valueCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val cents = (col(valueCol).cast(DecimalType(18, 2)) * lit(100))
      .cast("long")
    val g = df.where(col(armCol).isin(armA, armB) &&
        col(valueCol).isNotNull)
      .select(col(armCol).as("arm"), cents.as("cv"))
      .groupBy(col("cv"))
      .agg(count(when(col("arm") === armA, 1)).as("n1v"),
        count(lit(1)).as("m"))
    val withCum = RelationalOps.distributedPrefixSum(g, "cv", "m")
      .withColumn("prev", col("cum") - col("m"))
    val s = withCum.agg(
      sum(col("n1v")).as("n1"),
      sum(col("m") - col("n1v")).as("n2"),
      // 2·R1 = Σ n1v·(2·prev + m + 1): exact in DECIMAL(38,0)
      sum(col("n1v").cast(dec) *
        (lit(2).cast(dec) * col("prev").cast(dec) +
          col("m").cast(dec) + lit(1).cast(dec))).as("r1x2"),
      sum(col("m").cast(dec) * col("m").cast(dec) * col("m").cast(dec) -
        col("m").cast(dec)).as("ties"))
    val u1 = ((col("r1x2") - col("n1").cast(dec) *
      (col("n1").cast(dec) + lit(1).cast(dec))).cast("double") /
      lit(2.0))
    val tieTerm = col("ties").cast("double")
    // z with tie-corrected variance:
    //   var = n1·n2/12 · ((N+1) − ties/(N(N−1)))
    // A fully-tied pool has variance 0 — ANSI double division throws
    // there, so the degenerate case pins to NaN explicitly (the oracle
    // mirrors with CASE)
    val varU = col("n1").cast("double") * col("n2").cast("double") /
      lit(12.0) *
      ((col("n1") + col("n2") + lit(1)).cast("double") -
        tieTerm / ((col("n1") + col("n2")).cast("double") *
          (col("n1") + col("n2") - lit(1)).cast("double")))
    val z = when(varU > 0.0,
      (u1 - col("n1").cast("double") * col("n2").cast("double") /
        lit(2.0)) / sqrt(varU))
      .otherwise(lit(Double.NaN))
    s.select(col("n1"), col("n2"), u1.as("u1"),
      tieTerm.as("tie_term"), z.as("z"))
  }

  /** Kruskal–Wallis H (the k-group generalization of
    * [[mannWhitneyU]] — Kruskal & Wallis 1952, public): one-way
    * analysis of variance on RANKS, the omnibus test analysts reach
    * for when the k slices of a metric are too skewed for ANOVA.
    * Same rank discipline as Mann–Whitney: cent-quantized values, tie
    * groups from ONE aggregation, midrank sums closed-form per
    * (group, value) cell — 2·R_j = Σ_v n_jv·(2·prev + m + 1), exact
    * DECIMAL(38,0) — so no per-row global rank ever exists.
    *   H = [12/(N(N+1)) · Σ_j R_j²/n_j − 3(N+1)] / C,
    *   C = 1 − Σ(t³−t)/(N³−N)   (tie correction)
    * Per-group quadratic terms 12·R_j²/(n_j·N·(N+1)) — normalized
    * INSIDE the term so the gridded value is O(N), never O(N³) — are
    * single fixed IEEE trees floored onto the 10⁻⁶ grid and summed
    * EXACTLY in DECIMAL(38,0) (the lnG discipline applied to
    * squares) — the sum is order-free, so k-way parallelism cannot
    * perturb the readout.
    * A fully-tied pool (C = 0) pins H to NaN like the MW degenerate.
    *
    * Scale: values collapse to (grp, distinct cents) cells in one
    * aggregation; the global prefix sum is the two-phase bucket scan;
    * everything after runs on k rows. Output per group:
    * (grp, n_j, rank_sum, h, dof) with H and df = k−1 repeated. */
  def kruskalWallis(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val cents = (col(valueCol).cast(DecimalType(18, 2)) * lit(100))
      .cast("long")
    val gv = df.where(col(groupCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(groupCol).as("grp"), cents.as("cv"))
      .groupBy(col("grp"), col("cv"))
      .agg(count(lit(1)).as("njv"))
    val vals = gv.groupBy(col("cv")).agg(sum(col("njv")).as("m"))
    val withCum = RelationalOps.distributedPrefixSum(vals, "cv", "m")
      .withColumn("prev", col("cum") - col("m"))
    val perGroup = gv
      .join(withCum.select(col("cv"), col("m"), col("prev")), Seq("cv"))
      .groupBy(col("grp"))
      .agg(sum(col("njv")).as("n_j"),
        sum(col("njv").cast(dec) *
          (lit(2).cast(dec) * col("prev").cast(dec) +
            col("m").cast(dec) + lit(1).cast(dec))).as("r2j"))
    // Σ_j 12·R_j²/(n_j·N·(N+1)) with the N-normalization INSIDE each
    // per-group term (so the gridded value is O(N), never O(N³) —
    // floor returns LONG, and this keeps the 10⁻⁶ grid in range
    // through 100× growth); each term is one fixed IEEE tree, the
    // sum exact decimal — order-free across groups
    val nTot = perGroup.agg(sum(col("n_j")).as("n"),
      count(lit(1)).as("k"))
    val nD = col("n").cast("double")
    val tj = lit(3.0) * col("r2j").cast("double") *
      col("r2j").cast("double") /
      (col("n_j").cast("double") * nD * (nD + lit(1.0)))
    val totals = perGroup.crossJoin(broadcast(nTot))
      .groupBy(col("n"), col("k"))
      .agg(sum(floor(tj * lit(1e6)).cast(dec)).as("s_grid"))
    val ties = withCum.agg(
      sum(col("m").cast(dec) * col("m").cast(dec) * col("m").cast(dec) -
        col("m").cast(dec)).as("t3t"))
    val sD = col("s_grid").cast("double") / lit(1e6)
    val hRaw = sD - lit(3.0) * (nD + lit(1.0))
    val nCube = (col("n").cast(dec) * col("n").cast(dec) *
      col("n").cast(dec) - col("n").cast(dec))
    val corr = lit(1.0) -
      col("t3t").cast("double") / nCube.cast("double")
    val hCol = when(col("n") > 1 && corr > lit(0.0), hRaw / corr)
      .otherwise(lit(Double.NaN))
    val head = totals.crossJoin(broadcast(ties))
      .select(hCol.as("h"), (col("k") - lit(1L)).as("dof"))
    perGroup.crossJoin(broadcast(head))
      .select(col("grp"), col("n_j"),
        (col("r2j").cast("double") / lit(2.0)).as("rank_sum"),
        col("h"), col("dof"))
  }

  /** χ² test of independence between two categorical columns
    * (Pearson's contingency analysis): the full grid of observed
    * counts — INCLUDING structurally-zero cells, which still carry
    * expected mass — against e = row·col/N, with the per-cell χ²
    * contribution (o−e)²/e. All counts are exact integers; e and the
    * term are the only floating-point steps, each a fixed IEEE
    * expression both engines replay identically.
    *
    * Scale: three aggregations of the input plus a
    * |rows-levels|×|col-levels| grid from broadcasting the (bounded-
    * cardinality) column marginal — the contingency-table shape, never
    * the corpus. */
  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val counts = df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("o"))
    val rowT = counts.groupBy(col("a")).agg(sum(col("o")).as("row_n"))
    val colT = counts.groupBy(col("b")).agg(sum(col("o")).as("col_n"))
    val tot = counts.agg(sum(col("o")).as("n"))
    rowT.crossJoin(broadcast(colT.crossJoin(tot)))
      .join(counts, Seq("a", "b"), "left_outer")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .withColumn("e", col("row_n").cast("double") *
        col("col_n").cast("double") / col("n").cast("double"))
      .select(col("a"), col("b"), col("o"), col("row_n"), col("col_n"),
        col("e"),
        ((col("o").cast("double") - col("e")) *
          (col("o").cast("double") - col("e")) / col("e"))
          .as("chi2_term"))
  }

  /** ln(x) floored onto the 10⁻¹² grid as a LONG: the one IEEE log
    * the count-arithmetic statistics take per term, so their sums of
    * grid logs accumulate exactly in DECIMAL(38,0). */
  private def lnG(x: Column): Column =
    floor(log(x.cast("double")) * lit(1e12)).cast("long")

  /** Mutual information + normalized MI between two categorical
    * columns (Shannon 1948; NMI per Strehl & Ghosh JMLR'02 — public):
    * the DEPENDENCE-STRENGTH companion of [[chiSquare]] — χ² says
    * whether an association is detectable, MI says how many nats of
    * information one column carries about the other, and
    * NMI = MI/√(H_a·H_b) puts it on the comparable [0, 1] scale
    * feature-selection and clustering-agreement pipelines use. Pure
    * count arithmetic:
    *   MI  = Σ_ij (n_ij/N)·ln(n_ij·N / (n_i·n_j))
    *   H_a = Σ_i (n_i/N)·ln(N/n_i)     (likewise H_b)
    * — every ln operand an integer-valued product (the pinned class),
    * grid-floored; each sum accumulates n·Δln in EXACT DECIMAL(38,0);
    * the only IEEE steps are the final /N divisions, one square root,
    * and the NMI ratio. A constant column (H = 0) pins NMI to NaN.
    *
    * Scale: the contingency shape — one (a, b) aggregation, bounded-
    * level margins broadcast back, one final collapse. */
  def mutualInformation(df: DataFrame, aCol: String, bCol: String)
      : DataFrame = {
    val dec = DecimalType(38, 0)
    val cells = df.where(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("o"))
      .localCheckpoint(true)
    val rowT = cells.groupBy(col("a")).agg(sum(col("o")).as("n_a"))
    val colT = cells.groupBy(col("b")).agg(sum(col("o")).as("n_b"))
    val tot = cells.agg(sum(col("o")).as("n"))
    val joined = cells.join(broadcast(rowT), "a")
      .join(broadcast(colT), "b").crossJoin(broadcast(tot))
    val miGrid = joined.agg(
      sum((col("o").cast(dec) *
        (lnG(col("o").cast(dec) * col("n").cast(dec)) -
          lnG(col("n_a").cast(dec) * col("n_b").cast(dec))))
        .cast(dec)).as("mi_sum"),
      max(col("n")).as("n"))
    val hOf = (margin: DataFrame, cnt: String) =>
      margin.crossJoin(broadcast(tot)).agg(
        sum((col(cnt).cast(dec) * (lnG(col("n")) - lnG(col(cnt))))
          .cast(dec)).as("h_sum"))
    val ha = hOf(rowT, "n_a").select(col("h_sum").as("ha_sum"))
    val hb = hOf(colT, "n_b").select(col("h_sum").as("hb_sum"))
    val nD = col("n").cast("double")
    val mi = col("mi_sum").cast("double") / nD / lit(1e12)
    val haD = col("ha_sum").cast("double") / nD / lit(1e12)
    val hbD = col("hb_sum").cast("double") / nD / lit(1e12)
    miGrid.crossJoin(broadcast(ha)).crossJoin(broadcast(hb))
      .select(col("n"), mi.as("mi"), haD.as("h_a"), hbD.as("h_b"),
        when(haD > lit(0.0) && hbD > lit(0.0),
          mi / sqrt(haD * hbD)).otherwise(lit(Double.NaN)).as("nmi"))
  }

  /** CUPED variance-reduced A/B effect (Deng, Xu, Kohavi & Walker,
    * WSDM 2013, public): adjust each unit's post-period metric Y by its
    * PRE-period covariate X — Y' = Y − θ·(X − X̄) with
    * θ = cov(X,Y)/var(X) — and difference the arm means of Y'. The
    * pre-period is unaffected by treatment, so the adjustment removes
    * between-user variance without biasing the effect; the modern
    * default for online experiments.
    *
    * One user-level conditional aggregation (pre/post decimal sums per
    * user), then ONE global aggregation of decimal-exact power sums
    * (per-user x, y stay DECIMAL until the final VARCHAR-safe cast so
    * no order-dependent double sum exists), then a fixed IEEE
    * expression for θ and the adjusted means. Output one row:
    * (n_users, theta, raw_effect, cuped_effect). */
  def cupedEffect(events: DataFrame, tsCol: String, valueCol: String,
      cutover: String): DataFrame = {
    val d4 = DecimalType(18, 4)
    val pre = when(col(tsCol) < lit(cutover).cast("timestamp"),
      col(valueCol).cast(d4)).otherwise(lit(0).cast(d4))
    val post = when(col(tsCol) >= lit(cutover).cast("timestamp"),
      col(valueCol).cast(d4)).otherwise(lit(0).cast(d4))
    val users = events.where(col("user_id").isNotNull)
      .groupBy(col("user_id"), (col("user_id") % 2 === 1).as("treat"))
      .agg(sum(pre).cast(d4).as("x"), sum(post).cast(d4).as("y"))
    val dp = DecimalType(38, 8)
    def dbl(c: Column): Column = c.cast("double")
    val s = users.agg(
      count(lit(1)).cast("double").as("n"),
      dbl(sum(col("x"))).as("sx"), dbl(sum(col("y"))).as("sy"),
      dbl(sum((col("x") * col("x")).cast(dp))).as("sxx"),
      dbl(sum((col("x") * col("y")).cast(dp))).as("sxy"),
      dbl(sum(when(col("treat"), col("y")))).as("sy_t"),
      dbl(sum(when(!col("treat"), col("y")))).as("sy_c"),
      dbl(sum(when(col("treat"), col("x")))).as("sx_t"),
      dbl(sum(when(!col("treat"), col("x")))).as("sx_c"),
      count(when(col("treat"), lit(1))).cast("double").as("n_t"),
      count(when(!col("treat"), lit(1))).cast("double").as("n_c"))
    val theta = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    val xbar = col("sx") / col("n")
    s.select(col("n").cast("long").as("n_users"), theta.as("theta"),
      (col("sy_t") / col("n_t") - col("sy_c") / col("n_c"))
        .as("raw_effect"),
      ((col("sy_t") / col("n_t") - theta *
          (col("sx_t") / col("n_t") - xbar)) -
        (col("sy_c") / col("n_c") - theta *
          (col("sx_c") / col("n_c") - xbar))).as("cuped_effect"))
  }

  /** Linear multi-touch attribution: every conversion splits one unit
    * of credit equally across the user's touch events (views/clicks)
    * in the trailing `windowDays`; per-channel credit is the sum. The
    * marketing-analytics staple between last-touch (as-of join) and
    * data-driven models.
    *
    * Scale shape: the purchase×touch pairing is NOT a per-user theta
    * join — touches replicate to the ≤ windowDays+1 calendar days they
    * can influence and meet purchases on an equi (user, day) key, with
    * the exact micro-range filter applied after (bounded ×(w+1)
    * expansion, the ts_sliding_distinct construction). Credit 1/n is
    * taken as the integer 10¹² div n, so the cross-purchase sum is
    * exact integer arithmetic — no float accumulation order.
    * Output: (channel, n_touches, credit). */
  def linearAttribution(events: DataFrame, conversionType: String,
      touchTypes: Seq[String], windowDays: Int): DataFrame = {
    val ev = events.where(col("user_id").isNotNull)
    val p = ev.where(col("event_type") === conversionType)
      .select(col("event_id").as("pid"), col("user_id"),
        unix_micros(col("ts")).as("pmu"),
        unix_date(to_date(col("ts"))).as("pday"))
    val tch = ev.where(col("event_type").isInCollection(touchTypes))
      .select(col("user_id"), col("event_type").as("channel"),
        unix_micros(col("ts")).as("tmu"),
        unix_date(to_date(col("ts"))).as("tday"))
      .withColumn("k", explode(sequence(lit(0), lit(windowDays))))
      .select(col("user_id"), col("channel"), col("tmu"),
        (col("tday") + col("k")).as("pday"))
    val winMicros = windowDays.toLong * 86400000000L
    val j = p.join(tch, Seq("user_id", "pday"))
      .where(col("tmu") <= col("pmu") &&
        col("tmu") >= col("pmu") - lit(winMicros))
      .select(col("pid"), col("channel"))
    val n = j.groupBy(col("pid")).agg(count(lit(1)).as("n"))
    j.join(n, "pid")
      .withColumn("fp", expr("1000000000000 div n"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"),
        (sum(col("fp")).cast("double") / lit(1e12)).as("credit"))
  }

  /** Holt's linear-trend exponential smoothing (Holt 1957, public) per
    * series key: level/trend recursion
    * lₜ = α·xₜ + (1−α)(lₜ₋₁+bₜ₋₁), bₜ = β(lₜ−lₜ₋₁) + (1−β)bₜ₋₁ over
    * the DAILY total series, initialized (l₁, b₁) = (x₁, 0). Returns
    * the end state and the 1-step-ahead forecast l+b — the trend-aware
    * upgrade of [[ts_ewma]]'s flat smoothing.
    *
    * The recursion is inherently sequential, so it runs as ONE
    * left-fold over the per-key series array (collected sorted —
    * collect order is never trusted) with a two-element double
    * accumulator [l, b]; the oracle replays the identical fold with
    * list_reduce, so every IEEE intermediate matches bit-for-bit.
    * Scale: series length = days-per-key (bounded by the calendar,
    * ~36 k for a century), NOT corpus rows — the daily pre-aggregation
    * is where 100 TB collapses; the fold is O(days) per key. */
  def holtLinear(events: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, alpha: Double, beta: Double): DataFrame = {
    val daily = events
      .groupBy(col(keyCol), to_date(col(tsCol)).as("d"))
      .agg(sum(col(valueCol).cast(DecimalType(18, 4)))
        .cast("double").as("x"))
    val a = alpha
    val b = beta
    daily.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_days"),
        expr("transform(array_sort(collect_list(struct(d, x))), s -> s.x)")
          .as("xs"))
      .withColumn("st", expr(
        s"""aggregate(slice(xs, 2, greatest(size(xs) - 1, 0)),
           | array(element_at(xs, 1), cast(0.0 as double)),
           | (acc, x) -> array(
           |   $a*x + ${1 - a}*(element_at(acc,1) + element_at(acc,2)),
           |   $b*(($a*x + ${1 - a}*(element_at(acc,1)
           |     + element_at(acc,2))) - element_at(acc,1))
           |     + ${1 - b}*element_at(acc,2)))""".stripMargin))
      .select(col(keyCol), col("n_days"),
        element_at(col("st"), 1).as("level"),
        element_at(col("st"), 2).as("trend"),
        (element_at(col("st"), 1) + element_at(col("st"), 2))
          .as("forecast_1"))
  }

  /** 1-D local-level Kalman filter (Kalman 1960 — public; the
    * random-walk-plus-noise state space model, Harvey 1989 §2) per
    * series key over the DAILY total series: predict Pₚ = P + q, gain
    * K = Pₚ/(Pₚ+r), update l ← l + K(x−l), P ← (1−K)Pₚ, initialized
    * (l₁, P₁) = (x₁, p0). The adaptive-gain upgrade of [[holtLinear]]:
    * the smoothing weight is driven by the tracked posterior variance
    * instead of a fixed α, converging to the steady-state gain of the
    * (q, r) ratio.
    *
    * Same scale/parity shape as [[holtLinear]]: the recursion is
    * inherently sequential, so it runs as ONE left-fold over the
    * per-key sorted series with a two-element [l, P] accumulator
    * (daily pre-aggregation is where 100 TB collapses; the fold is
    * O(days) per key, days bounded by the calendar) — only IEEE
    * +,−,×,÷ inside, so the oracle's identical list_reduce replays it
    * bit-for-bit. Output: (key, n_days, level, p_var, gain_next). */
  def kalmanLevel(events: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, q: Double = 0.1, r: Double = 1.0,
      p0: Double = 1.0): DataFrame = {
    val daily = events
      .groupBy(col(keyCol), to_date(col(tsCol)).as("d"))
      .agg(sum(col(valueCol).cast(DecimalType(18, 4)))
        .cast("double").as("x"))
    daily.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_days"),
        expr("transform(array_sort(collect_list(struct(d, x))), s -> s.x)")
          .as("xs"))
      .withColumn("st", expr(
        s"""aggregate(slice(xs, 2, greatest(size(xs) - 1, 0)),
           | array(element_at(xs, 1), cast($p0 as double)),
           | (acc, x) -> array(
           |   element_at(acc,1) + ((element_at(acc,2) + $q)
           |     / ((element_at(acc,2) + $q) + $r))
           |     * (x - element_at(acc,1)),
           |   (cast(1.0 as double) - ((element_at(acc,2) + $q)
           |     / ((element_at(acc,2) + $q) + $r)))
           |     * (element_at(acc,2) + $q)))""".stripMargin))
      .select(col(keyCol), col("n_days"),
        element_at(col("st"), 1).as("level"),
        element_at(col("st"), 2).as("p_var"),
        ((element_at(col("st"), 2) + lit(q)) /
          ((element_at(col("st"), 2) + lit(q)) + lit(r)))
          .as("gain_next"))
  }

  /** Cramér's V — the [0,1]-normalized effect size of [[chiSquare]]:
    * V = √( (χ²/n) / min(r−1, c−1) ), comparable across tables of any
    * shape where raw χ² is not. Per-cell χ² terms are quantized to
    * 1e-9 fixed point BEFORE the cross-partition sum (floor → long →
    * exact integer addition) so the statistic is order-independent —
    * the same determinism trick [[TextOps.bigramLmScores]] uses for
    * its log-prob sums; a raw double sum would hash-drift between
    * engines. Cost: the contingency aggregation [[chiSquare]] already
    * does, plus one tiny agg over |r|·|c| cells. Output one row
    * (n_obs, n_rows, n_cols, chi2, cramers_v). */
  def cramersV(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = chiSquare(df, aCol, bCol)
    cells.agg(
        sum(col("o")).as("n_obs"),
        countDistinct(col("a")).as("n_rows"),
        countDistinct(col("b")).as("n_cols"),
        sum(floor(col("chi2_term") * lit(1e9)).cast("long")).as("fp"))
      .select(col("n_obs"), col("n_rows"), col("n_cols"),
        (col("fp").cast("double") / lit(1e9)).as("chi2"),
        sqrt((col("fp").cast("double") / lit(1e9)) /
          (col("n_obs").cast("double") *
            least(col("n_rows") - 1, col("n_cols") - 1).cast("double")))
          .as("cramers_v"))
  }

  /** One-way ANOVA F statistic across the groups of `groupCol` on the
    * cent-quantized `valueCol` (quantization keeps every moment an
    * exact integer; the classic omnibus companion to the pairwise
    * Welch test). From per-group (n, Σx, Σx²) in DECIMAL(38,0):
    * SSB = Σ_g S_g²/n_g − S²/N and SSW = Q − Σ_g S_g²/n_g, each
    * cleared of denominators by multiplying through — the engine and
    * oracle replay one fixed IEEE expression over five exact sums.
    * Output: one row (n_groups, n_total, f_stat).
    *
    * Scale: ONE map-side-combined aggregation to |groups| rows, then
    * one tiny aggregation over those — the sufficient-statistics
    * regression shape. */
  def anovaF(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val cents = (col(valueCol).cast(DecimalType(18, 2)) * lit(100))
      .cast("long")
    val g = df.where(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("grp"), cents.as("cv"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("ng"),
        sum(col("cv")).cast(dec).as("sg"),
        sum(col("cv").cast(DecimalType(19, 0)) *
          col("cv").cast(DecimalType(19, 0))).cast(dec).as("qg"))
    // per-group S_g²/n_g is rational: keep (S_g², n_g) and clear the
    // denominators over the common multiple N·Πn? — impractical.
    // Instead: S_g²/n_g in DOUBLE per group is an order-independent
    // single division (the sum of those doubles is then decimal-
    // accumulated at scale 6 so addition order cancels too).
    val withR = g.select(col("grp"), col("ng"), col("sg"), col("qg"),
      (col("sg").cast("double") * col("sg").cast("double") /
        col("ng").cast("double")).as("r"))
    val s = withR.agg(
      count(lit(1)).as("k"),
      sum(col("ng")).as("n"),
      sum(col("sg")).as("stot"),
      sum(col("qg")).as("qtot"),
      sum(col("r").cast(DecimalType(38, 6))).cast("double").as("rtot"))
    s.select(col("k").as("n_groups"), col("n").as("n_total"),
      (((col("rtot") - col("stot").cast("double") *
          col("stot").cast("double") / col("n").cast("double")) /
        (col("k") - lit(1)).cast("double")) /
        ((col("qtot").cast("double") - col("rtot")) /
          (col("n") - col("k")).cast("double"))).as("f_stat"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic between two arms on the
    * cent-quantized `valueCol`: D = max over distinct values of
    * |F₁(v) − F₂(v)|. The supremum clears to exact integers —
    * max |cum₁·n₂ − cum₂·n₁| — so the ONLY floating-point step is the
    * final division by n₁·n₂; ties, ordering, and accumulation are all
    * integer-exact (the Gini/Mann-Whitney construction applied to the
    * ECDF distance).
    *
    * Scale: values collapse to (distinct cents, per-arm counts); two
    * bucketed prefix sums give both ECDFs without a single-partition
    * window; one max aggregation ends it. */
  def ksTest(df: DataFrame, armCol: String, armA: String, armB: String,
      valueCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val cents = (col(valueCol).cast(DecimalType(18, 2)) * lit(100))
      .cast("long")
    val g = df.where(col(armCol).isin(armA, armB) &&
        col(valueCol).isNotNull)
      .select(col(armCol).as("arm"), cents.as("cv"))
      .groupBy(col("cv"))
      .agg(count(when(col("arm") === armA, 1)).as("c1"),
        count(when(col("arm") === armB, 1)).as("c2"))
    val cum1 = RelationalOps.distributedPrefixSum(g, "cv", "c1")
      .withColumnRenamed("cum", "cum1")
    val cum = RelationalOps.distributedPrefixSum(cum1, "cv", "c2")
      .withColumnRenamed("cum", "cum2")
    // arm totals broadcast back so the cleared ECDF distance is one
    // integer expression per distinct value (d_num ≤ n1·n2 — longs
    // hold to ~3·10⁹ rows per arm; the DECIMAL(38,0) intermediate is
    // exact far beyond that)
    val totals = g.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    cum.crossJoin(broadcast(totals))
      .select(col("n1"), col("n2"),
        abs(col("cum1").cast(dec) * col("n2").cast(dec) -
          col("cum2").cast(dec) * col("n1").cast(dec)).as("dnum"))
      .groupBy(col("n1"), col("n2"))
      .agg(max(col("dnum")).as("d_num"))
      .select(col("n1"), col("n2"), col("d_num").cast("long").as("d_num"),
        (col("d_num").cast("double") /
          (col("n1").cast("double") * col("n2").cast("double")))
          .as("d_stat"))
  }

  /** RFM segmentation (recency / frequency / monetary quartiles — the
    * classic CRM customer partition): per customer, days since last
    * order relative to `refDate`, order count, and lifetime cents;
    * each metric maps to quartile buckets 0..3 by ASCENDING value via
    * the value-grouped global-rank decomposition (bucket =
    * ⌊cum_before·4/total⌋ over the per-distinct-value count relation —
    * ties land in one bucket, no per-row global rank, no
    * single-partition window; the equi-depth histogram construction).
    *
    * Scale: one aggregation to the per-customer relation, then three
    * value-distribution scans whose prefix sums are two-phase bucket
    * scans; value→bucket maps broadcast back (distinct recency days
    * and frequencies are small; distinct monetary values are ≤
    * |customers| — that map join is key-partitioned, not broadcast,
    * when it outgrows the threshold). */
  def rfmSegments(orders: DataFrame, refDate: String): DataFrame = {
    val perCust = orders.groupBy(col("o_custkey").as("custkey"))
      .agg(datediff(lit(refDate).cast("date"), max(col("o_orderdate")))
          .cast("long").as("recency_days"),
        count(lit(1)).as("frequency"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)) * lit(100))
          .cast("long").as("monetary_cents"))
      .localCheckpoint(true) // 3 metric scans share one computation
    def quartileMap(metric: String): DataFrame = {
      val vc = perCust.groupBy(col(metric)).agg(count(lit(1)).as("nv"))
      RelationalOps.distributedPrefixSum(vc, metric, "nv")
        .crossJoin(broadcast(vc.agg(sum(col("nv")).as("_tot"))))
        .select(col(metric),
          expr(s"(cum - nv) * 4 div _tot").as(s"${metric}_q"))
    }
    perCust
      .join(quartileMap("recency_days"), "recency_days")
      .join(quartileMap("frequency"), "frequency")
      .join(quartileMap("monetary_cents"), "monetary_cents")
      .select(col("custkey"), col("recency_days"), col("frequency"),
        col("monetary_cents"), col("recency_days_q"),
        col("frequency_q"), col("monetary_cents_q"),
        concat(col("recency_days_q"), col("frequency_q"),
          col("monetary_cents_q")).as("rfm_cell"))
  }

  /** Theil–Sen slope estimator per group (Theil 1950 / Sen 1968 —
    * public): the MEDIAN of all pairwise slopes (y_j−y_i)/(d_j−d_i)
    * over the group's DAILY series — the robust trend line with a 29%
    * breakdown point, where OLS is dragged by a single outlier day.
    *
    * Scale shape: the corpus collapses to the per-(group, day)
    * aggregation first, so the pairwise join is bounded by the
    * CALENDAR squared per group (≤ days²/2 pairs — 1 770 for a 60-day
    * window), never by row count; the median rank window partitions by
    * group over those bounded pairs. Daily y is a decimal-exact sum
    * cast once to double, each slope is one IEEE divide of those
    * bit-pinned operands, and the even-count median is (lo+hi)/2 —
    * reduction-order-free cross-engine. */
  def theilSen(events: DataFrame, typeCol: String = "event_type",
      tsCol: String = "ts", valueCol: String = "value"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .groupBy(col(typeCol), to_date(col(tsCol)).as("day"))
      .agg(sum(col(valueCol).cast(DecimalType(18, 4))).cast("double")
        .as("y"))
      .withColumn("d", unix_date(col("day")).cast("double"))
    val pairs = daily.as("a").join(daily.as("b"),
        col(s"a.$typeCol") === col(s"b.$typeCol") &&
        col("a.day") < col("b.day"))
      .select(col(s"a.$typeCol").as(typeCol),
        ((col("b.y") - col("a.y")) / (col("b.d") - col("a.d")))
          .as("slope"))
    val np = pairs.groupBy(col(typeCol)).agg(count(lit(1)).as("n_pairs"))
    val w = Window.partitionBy(col(typeCol)).orderBy(col("slope"))
    pairs
      .withColumn("rn", row_number().over(w))
      .join(broadcast(np), Seq(typeCol))
      // lower and upper middle (equal when n_pairs is odd); ties in
      // slope order are interchangeable EQUAL values, so tie order
      // cannot change the selected pair of numbers. Spark's `/` on
      // longs is TRUE division — floor via cast for the integer ranks.
      .where(col("rn") === ((col("n_pairs") + 1) / 2).cast("long") ||
        col("rn") === ((col("n_pairs") + 2) / 2).cast("long"))
      .groupBy(col(typeCol))
      .agg(max(col("n_pairs")).as("n_pairs"),
        ((min(col("slope")) + max(col("slope"))) / 2.0)
          .as("theil_sen_slope"))
  }

  /** Mann–Kendall trend test per series key (Mann 1945, Kendall 1975 —
    * public): the significance companion of [[theilSen]] (the classic
    * nonparametric trend pair). Over the per-key DAILY series:
    * S = Σ_{i<j} sign(y_j − y_i) — monotone-increasing series → S near
    * +n(n−1)/2 — with the tie-corrected variance
    * Var(S) = [n(n−1)(2n+5) − Σ_ties t(t−1)(2t+5)]/18 and the
    * continuity-corrected z = (S∓1)/√Var(S) (0 when S = 0).
    *
    * Determinism: sign() compares the EXACT DECIMAL(38,4) daily sums —
    * no float compare anywhere — so S, n and the tie term are pure
    * integers; z is then one IEEE divide + sqrt. Scale: the
    * calendar-collapse law ([[theilSen]] verbatim) — the pair join is
    * days²-bounded per key, never corpus-bounded; ties aggregate over
    * the same daily relation. Output:
    * (key, n_days, s_stat, var_s, z). */
  def mannKendall(events: DataFrame, typeCol: String = "event_type",
      tsCol: String = "ts", valueCol: String = "value"): DataFrame = {
    val daily = events
      .groupBy(col(typeCol), to_date(col(tsCol)).as("day"))
      .agg(sum(col(valueCol).cast(DecimalType(18, 4))).as("y"))
    val s = daily.as("a").join(daily.as("b"),
        col(s"a.$typeCol") === col(s"b.$typeCol") &&
        col("a.day") < col("b.day"))
      .select(col(s"a.$typeCol").as(typeCol),
        signum(col("b.y") - col("a.y")).cast("long").as("sg"))
      .groupBy(col(typeCol)).agg(sum(col("sg")).as("s_stat"))
    val n = daily.groupBy(col(typeCol)).agg(count(lit(1)).as("n_days"))
    val ties = daily.groupBy(col(typeCol), col("y"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col(typeCol))
      .agg(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5))
        .as("tie_term"))
    val nD = col("n_days")
    val varS = ((nD * (nD - 1) * (nD * 2 + 5) - col("tie_term"))
      .cast("double") / lit(18.0))
    n.join(s, Seq(typeCol)).join(ties, Seq(typeCol))
      .select(col(typeCol), col("n_days"), col("s_stat"),
        varS.as("var_s"),
        when(col("s_stat") > 0,
            (col("s_stat") - 1).cast("double") / sqrt(varS))
          .when(col("s_stat") < 0,
            (col("s_stat") + 1).cast("double") / sqrt(varS))
          .otherwise(lit(0.0)).as("z"))
  }

  /** Hodges–Lehmann pseudo-median per group (Hodges & Lehmann 1963 —
    * public): the median of all Walsh averages (y_i + y_j)/2 over
    * i ≤ j of the group's DAILY series — the location estimator dual
    * to the Wilcoxon signed-rank test, robust where the mean is
    * dragged by a single outlier day yet ~95% efficient at the normal.
    *
    * Same scale shape as [[theilSen]]: the corpus collapses to the
    * per-(group, day) aggregation FIRST, so the Walsh-pair join is
    * bounded by the calendar squared per group (n(n+1)/2 pairs — 1 830
    * for a 60-day window), never by event volume; the median rank
    * window partitions by group over those bounded pairs. Daily y is a
    * decimal-exact sum cast once to double, each Walsh average is one
    * IEEE add + halve of bit-pinned operands, and the even-count
    * median is (lo+hi)/2 — reduction-order-free cross-engine. */
  def hodgesLehmann(events: DataFrame, typeCol: String = "event_type",
      tsCol: String = "ts", valueCol: String = "value"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .groupBy(col(typeCol), to_date(col(tsCol)).as("day"))
      .agg(sum(col(valueCol).cast(DecimalType(18, 4))).cast("double")
        .as("y"))
    // i ≤ j INCLUDING i = j: the Walsh set contains the singletons
    val pairs = daily.as("a").join(daily.as("b"),
        col(s"a.$typeCol") === col(s"b.$typeCol") &&
        col("a.day") <= col("b.day"))
      .select(col(s"a.$typeCol").as(typeCol),
        ((col("a.y") + col("b.y")) / 2.0).as("walsh"))
    val np = pairs.groupBy(col(typeCol)).agg(count(lit(1)).as("n_pairs"))
    val w = Window.partitionBy(col(typeCol)).orderBy(col("walsh"))
    pairs
      .withColumn("rn", row_number().over(w))
      .join(broadcast(np), Seq(typeCol))
      .where(col("rn") === ((col("n_pairs") + 1) / 2).cast("long") ||
        col("rn") === ((col("n_pairs") + 2) / 2).cast("long"))
      .groupBy(col(typeCol))
      .agg(max(col("n_pairs")).as("n_pairs"),
        ((min(col("walsh")) + max(col("walsh"))) / 2.0)
          .as("hl_estimate"))
  }

  /** Value of a hex digit character, as a Column expression shared by
    * the deterministic-randomness operators ('0'-'9' → 0-9,
    * 'a'-'f' → 10-15; lowercase only, which is what md5 emits). */
  private def hexVal(c: Column): Column =
    ascii(c) - when(ascii(c) >= 97, 87).otherwise(48)

  /** An 8-bit deterministic uniform (0..255) from the first two hex
    * chars of md5(seed) — the shared coin of [[bootstrapMeanCi]] and
    * [[dpNoisyCounts]]. Hash-derived, so it is identical in any engine
    * with md5 + ascii — no RNG state, no libm, no parallelism order. */
  private def u8(seed: Column): Column = {
    val h = md5(seed)
    hexVal(substring(h, 1, 1)) * 16 + hexVal(substring(h, 2, 1))
  }

  /** Per-group bootstrap confidence interval for the mean (Efron 1979
    * — public), deterministic: replicate b resamples each row with a
    * Poisson(1) weight read off an inverse-CDF threshold table at the
    * row's hash-uniform coin — hex pair b mod 16 of
    * md5(event_id:⌊b/16⌋) — the Poisson bootstrap of
    * Chamandy et al. (the streaming/parallel-safe form: no global
    * sample-index coordination, each row draws independently). The
    * thresholds are floor(F_Poisson(1)(k)·256) = 94/188/235/251/255 —
    * integer literals, so the weights are pure integer logic both
    * engines agree on bit-for-bit.
    *
    * Scale: the exploded (row × B) relation never materializes a
    * shuffle of that size — partial aggregation collapses it map-side
    * to (group × B) partial sums (the constant-multiplier law of the
    * replicate pattern, like attribution's ×(window+1)); the CI rank
    * window runs over B rows per group, bounded by the literal B.
    * Per-replicate means are decimal-exact sums with ONE IEEE divide;
    * the percentile bounds are order statistics of those B doubles. */
  /** The B Poisson(1) weights of one row, derived from ⌈B/16⌉ md5
    * digests of "id:chunk": one md5 is 16 independent 8-bit coins,
    * and hex pair j of the hex string IS unsigned byte j of the raw
    * digest — so the JVM side never renders hex at all, while the SQL
    * oracle reads the same coin as substr(md5hex, 2j+1, 2). The
    * thresholds are floor(F_Poisson(1)(k)·256). */
  private final class BootstrapAggregator(b: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (String, String, Long), Array[Long], Seq[Long]] {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    private def weightOf(u: Int): Long =
      if (u < 94) 0L else if (u < 188) 1L else if (u < 235) 2L
      else if (u < 251) 3L else if (u < 255) 4L else 5L
    // layout: [0..b) Σw per replicate, [b..2b) Σw·v per replicate,
    // [2b] raw row count, [2b+1] raw Σv — the point-estimate moments
    // ride in the same ADDITIVE buffer so batch and streaming state
    // are the same object
    def zero: Array[Long] = new Array[Long](2 * b + 2)
    def reduce(buf: Array[Long], row: (String, String, Long))
        : Array[Long] = {
      val md = BootstrapAggregator.digest.get()
      val (_, id, vl) = row
      var rep = 0
      var chunk = 0
      while (rep < b) {
        md.reset()
        md.update((id + ":" + chunk)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val d = md.digest()
        var pos = 0
        while (pos < 16 && rep < b) {
          val w = weightOf(d(pos) & 0xff)
          buf(rep) += w
          buf(b + rep) += w * vl
          pos += 1
          rep += 1
        }
        chunk += 1
      }
      buf(2 * b) += 1
      buf(2 * b + 1) += vl
      buf
    }
    def merge(a: Array[Long], c: Array[Long]): Array[Long] = {
      var i = 0
      while (i < 2 * b + 2) { a(i) += c(i); i += 1 }
      a
    }
    def finish(buf: Array[Long]): Seq[Long] =
      scala.collection.immutable.ArraySeq.unsafeWrapArray(buf)
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      ExpressionEncoder[Seq[Long]]()
  }

  private object BootstrapAggregator {
    val digest: ThreadLocal[java.security.MessageDigest] =
      ThreadLocal.withInitial(() =>
        java.security.MessageDigest.getInstance("MD5"))
  }

  /** The ADDITIVE sufficient statistics of the Poisson bootstrap:
    * one row per (group, replicate) with (Σw, Σw·v) in exact scaled
    * longs, plus the point-estimate row at b = −1 carrying (n, Σv).
    * Merging two moment tables is elementwise long addition, so this
    * is also the streaming upkeep state
    * ([[graft.streaming.StreamingOps.maintainBootstrapState]]) — after
    * N micro-batches the maintained table is bit-identical to this
    * one over the concatenated stream.
    *
    * The pass is ONE map-side typed aggregation (the emb_pca Gram
    * shape): each input row updates a (2B+2)-long buffer, so the
    * (rows × B) relation never exists and only #groups × ~1.6 KB
    * buffers shuffle. The value rides as its EXACT scaled-long
    * DECIMAL(18,4) units (one decimal cast per input row). Overflow
    * bound: Σw·v·10⁴ ≤ 5·10⁴·Σ|v| — safe to ~10¹⁴ unit-scale rows
    * per group. (Bench history: exploded decimal 11.9 s → exploded
    * long 5.2 s → this 1-pass aggregator; same oracle throughout.) */
  def bootstrapMoments(events: DataFrame,
      typeCol: String = "event_type", idCol: String = "event_id",
      valueCol: String = "value", b: Int = 100): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val packed = events
      .select(col(typeCol).cast("string"), col(idCol).cast("string"),
        (col(valueCol).cast(DecimalType(18, 4)) * 10000)
          .cast("long").as("vl"))
      .as[(String, String, Long)]
      .groupByKey(_._1)
      .agg(new BootstrapAggregator(b).toColumn.name("s"))
      .toDF(typeCol, "s")
    packed
      .select(col(typeCol), posexplode(expr(
        s"""transform(sequence(0, ${b - 1}), i ->
           |  struct(element_at(s, i + 1) AS nw,
           |    element_at(s, i + ${b + 1}) AS swl))""".stripMargin)))
      .select(col(typeCol), col("pos").cast("int").as("b"),
        col("col.nw").as("nw"), col("col.swl").as("swl"))
      .unionByName(packed.select(col(typeCol), lit(-1).as("b"),
        element_at(col("s"), 2 * b + 1).as("nw"),
        element_at(col("s"), 2 * b + 2).as("swl")))
  }

  /** CI assembly from a [[bootstrapMoments]]-shaped table — shared by
    * the batch op and the streaming-state read so both rebuild the
    * decimal means with the IDENTICAL expressions: mean = (swl as
    * exact decimal / 10⁴) / nw, CI = order statistics
    * ceil(0.025·B)/ceil(0.975·B) of the B replicate means. */
  private[graft] def bootstrapCiFromMoments(moments: DataFrame,
      typeCol: String, b: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def meanExpr: Column =
      (col("swl").cast(DecimalType(38, 0)) / lit(10000)).cast("double") /
        nullif(col("nw"), lit(0L)).cast("double")
    val reps = moments.where(col("b") >= 0)
      .select(col(typeCol), col("b"), meanExpr.as("mean_b"))
    val point = moments.where(col("b") === -1)
      .select(col(typeCol), col("nw").as("n"), meanExpr.as("mean"))
    val loRank = math.ceil(0.025 * b).toLong
    val hiRank = math.ceil(0.975 * b).toLong
    val w = Window.partitionBy(col(typeCol)).orderBy(col("mean_b"))
    reps
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === loRank || col("rn") === hiRank)
      .groupBy(col(typeCol))
      .agg(min(col("mean_b")).as("ci_lo"), max(col("mean_b")).as("ci_hi"))
      .join(point, Seq(typeCol))
      .select(col(typeCol), col("n"), col("mean"), col("ci_lo"),
        col("ci_hi"))
  }

  def bootstrapMeanCi(events: DataFrame, typeCol: String = "event_type",
      idCol: String = "event_id", valueCol: String = "value",
      b: Int = 100): DataFrame = {
    require(b >= 40, s"need B >= 40 for the 2.5/97.5 order stats, got $b")
    bootstrapCiFromMoments(
      bootstrapMoments(events, typeCol, idCol, valueCol, b), typeCol, b)
  }

  /** Yule–Walker AR(2) fit + one-step forecast per group (Yule 1927 /
    * Walker 1931 — public): φ₁ = r₁(1−r₂)/(1−r₁²),
    * φ₂ = (r₂−r₁²)/(1−r₁²) from the lag-1/lag-2 autocorrelations of
    * the group's daily-count series, then
    * ŷ = ȳ + φ₁(y_n−ȳ) + φ₂(y_{n−1}−ȳ) — the closed-form
    * autoregressive companion to [[autocorrelation]] (whose
    * exact-integer sufficient statistics it reuses, so r₁/r₂ are
    * bit-identical to the `ts_acf` surface) and the Holt smoother
    * (trend via recursion there, via the autocovariance structure
    * here).
    *
    * Scale: everything after the daily pre-aggregation is
    * calendar-bounded — the ACF join meets day-shifted copies of the
    * ≤days-row series, and the tail window ranks the same bounded
    * relation per group. The φ/forecast arithmetic is one fixed IEEE
    * expression tree over exactly-determined doubles. */
  def yuleWalkerAr2(events: DataFrame, typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val acf = autocorrelation(events, maxLag = 2, typeCol, tsCol)
      .groupBy(col("event_type"))
      .agg(max(when(col("lag") === 1, col("acf"))).as("r1"),
        max(when(col("lag") === 2, col("acf"))).as("r2"))
    val daily = events
      .groupBy(col(typeCol).as("event_type"), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("x"))
    val base = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(col("x")).cast("double") / count(lit(1)).cast("double"))
          .as("ybar"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day").desc)
    val tail = daily
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 2)
      .groupBy(col("event_type"))
      .agg(max(when(col("rn") === 1, col("x"))).cast("double").as("yn"),
        max(when(col("rn") === 2, col("x"))).cast("double").as("ynm1"))
    val denom = nullif(lit(1.0) - col("r1") * col("r1"), lit(0.0))
    acf.join(base, "event_type").join(tail, "event_type")
      .select(col("event_type"), col("n"), col("r1"), col("r2"),
        col("ybar"), col("yn"), col("ynm1"),
        (col("r1") * (lit(1.0) - col("r2")) / denom).as("phi1"),
        ((col("r2") - col("r1") * col("r1")) / denom).as("phi2"))
      .withColumn("forecast",
        col("ybar") + col("phi1") * (col("yn") - col("ybar")) +
          col("phi2") * (col("ynm1") - col("ybar")))
      .select(col("event_type"), col("n"), col("r1"), col("r2"),
        col("phi1"), col("phi2"), col("forecast"))
  }

  /** Holt–Winters ADDITIVE seasonal smoothing (Winters 1960 — public)
    * per series key, period `m` (7 = day-of-week): the [[holtLinear]]
    * level/trend recursion plus a rotating m-slot seasonal state
    *   lₜ = α(xₜ − sₜ₋ₘ) + (1−α)(lₜ₋₁ + bₜ₋₁)
    *   bₜ = β(lₜ − lₜ₋₁) + (1−β)bₜ₋₁
    *   sₜ = γ(xₜ − lₜ) + (1−γ)sₜ₋ₘ
    * initialized classically from the first season: l = mean(x₁..xₘ)
    * (an ORDERED left fold, not a parallel sum), b = 0,
    * sᵢ = xᵢ − l. Keys with fewer than 2m days are dropped (one full
    * season to initialize, one to smooth).
    *
    * Same scale stance as [[holtLinear]]: the sequential recursion is
    * ONE bounded per-key fold over the calendar-bounded daily series —
    * the accumulator is an array [l, b, s₁..sₘ] that the fold rotates
    * (head seasonal slot is always sₜ₋ₘ); the oracle replays the
    * identical fold with list_reduce, so every IEEE intermediate
    * matches bit-for-bit. Forecast: l + b + s_next (the rotated
    * head). */
  def holtWinters(events: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, m: Int = 7, alpha: Double = 0.5,
      beta: Double = 0.3, gamma: Double = 0.2): DataFrame = {
    require(m >= 2, s"need a real season, got period $m")
    val daily = events
      .groupBy(col(keyCol), to_date(col(tsCol)).as("d"))
      .agg(sum(col(valueCol).cast(DecimalType(18, 4)))
        .cast("double").as("x"))
    val a = alpha
    val b = beta
    val g = gamma
    // l₀ duplicated inside the seasonal transform — HOF SQL has no
    // let-binding; the oracle recomputes the identical expression
    val l0 = s"aggregate(slice(xs, 1, $m), cast(0.0 as double), " +
      s"(p, q) -> p + q) / $m.0"
    // acc layout: [1]=l, [2]=b, [3..${2+m}]=s where [3] is sₜ₋ₘ.
    // L recomputed inline for b and s (same duplication the Holt fold
    // uses); the rotation is slice(acc, 4, m−1) ++ [sₜ]
    val L = s"$a*(x - element_at(acc, 3)) + " +
      s"${1 - a}*(element_at(acc, 1) + element_at(acc, 2))"
    daily.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_days"),
        expr("transform(array_sort(collect_list(struct(d, x))), s -> s.x)")
          .as("xs"))
      .where(col("n_days") >= 2 * m)
      .withColumn("st", expr(
        s"""aggregate(
           | slice(xs, ${m + 1}, greatest(size(xs) - $m, 0)),
           | concat(array($l0, cast(0.0 as double)),
           |   transform(slice(xs, 1, $m), x -> x - $l0)),
           | (acc, x) -> concat(
           |   array(
           |     $L,
           |     $b*(($L) - element_at(acc, 1))
           |       + ${1 - b}*element_at(acc, 2)),
           |   slice(acc, 4, ${m - 1}),
           |   array($g*(x - ($L)) + ${1 - g}*element_at(acc, 3))))"""
          .stripMargin))
      .select(col(keyCol), col("n_days"),
        element_at(col("st"), 1).as("level"),
        element_at(col("st"), 2).as("trend"),
        element_at(col("st"), 3).as("season_next"),
        (element_at(col("st"), 1) + element_at(col("st"), 2) +
          element_at(col("st"), 3)).as("forecast_1"))
  }

  /** Minimum detectable effect at the CURRENT sample sizes — the
    * pre-readout power companion to [[abWelch]]: with two-sided
    * α = 0.05 and 80% power, MDE = (z₀.₉₇₅ + z₀.₈)·SE where
    * SE = √(σ²_a/n_a + σ²_b/n_b) is Welch's unpooled standard error
    * from the same exact decimal moments. The z's are literal doubles
    * (1.959963984540054, 0.8416212335729143 — standard normal
    * quantiles), so no libm inverse-CDF enters the plan and both
    * engines fold the identical constants. Output adds (se, mde_abs,
    * mde_rel = mde/mean_a) to the Welch columns it keeps. */
  def abPowerMde(df: DataFrame, groupCol: String, armCol: String,
      valueCol: String): DataFrame = {
    val z = lit(1.959963984540054) + lit(0.8416212335729143)
    val se = sqrt(col("var_a") / col("n_a").cast("double") +
      col("var_b") / col("n_b").cast("double"))
    abWelch(df, groupCol, armCol, valueCol)
      .select(col(groupCol), col("n_a"), col("n_b"),
        col("mean_a"), se.as("se"),
        (z * se).as("mde_abs"),
        (z * se / col("mean_a")).as("mde_rel"))
  }

  /** Piecewise-linear trend with fixed calendar knots: an OLS slope
    * per (group, week) segment from exact sufficient statistics
    * (slope = (nΣxy − ΣxΣy)/(nΣxx − (Σx)²) with x = epoch day,
    * y = the decimal daily sum), plus the slope CHANGE against the
    * previous segment — the changepoint readout of a Prophet-style
    * piecewise trend, with knots fixed (ISO week starts) instead of
    * fitted, so everything stays one aggregation + one bounded
    * window. Segments with a degenerate x-spread (one day) yield a
    * null slope.
    *
    * Scale: daily pre-aggregation collapses the corpus; moments are
    * ONE map-side-combined aggregation to (groups × weeks) rows; the
    * delta window partitions by group over weeks. All decimal
    * moments convert once to double and feed a fixed IEEE tree —
    * bit-reproducible cross-engine. */
  def segmentedTrend(events: DataFrame, typeCol: String = "event_type",
      tsCol: String = "ts", valueCol: String = "value"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .groupBy(col(typeCol), to_date(col(tsCol)).as("day"))
      .agg(sum(col(valueCol).cast(DecimalType(18, 4))).as("y"))
      .select(col(typeCol), col("day"),
        unix_date(col("day")).cast("long").as("x"), col("y"))
    val m = daily
      .groupBy(col(typeCol), trunc(col("day"), "week").as("seg"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"))
    val nD = col("n_days").cast("double")
    val sxD = col("sx").cast("double")
    val den = nullif(nD * col("sxx").cast("double") - sxD * sxD,
      lit(0.0))
    val w = Window.partitionBy(col(typeCol)).orderBy(col("seg"))
    m.select(col(typeCol), col("seg"), col("n_days"),
        ((nD * col("sxy").cast("double") -
          sxD * col("sy").cast("double")) / den).as("slope"))
      .withColumn("slope_delta",
        col("slope") - lag(col("slope"), 1).over(w))
  }

  /** ε-differentially-private count release per group via the discrete
    * geometric mechanism (Ghosh–Roughgarden–Sundararajan 2012 —
    * public), ε = ln 2 so the two-sided geometric ratio is exactly
    * p = ½: P(K = k) ∝ 2^{−|k|}. The noise draw inverts the geometric
    * CDF at a deterministic u8(salt:group) coin against INTEGER
    * thresholds floor(F(k)·256) for k ∈ [−5, 5] (tail mass beyond ±5
    * is < 2⁻⁵/3 and is truncated onto the endpoints — documented bias,
    * irrelevant to the mechanism's structure) — so the release is pure
    * integer logic, bit-reproducible in any engine with md5.
    *
    * ==== NOT a privacy mechanism as shipped ====
    * The default coin is md5 of the PUBLIC group name and a default
    * salt: anyone can recompute the noise and subtract it, and the
    * ±5-truncated lattice draw does not satisfy the stated ε even
    * with a secret coin. This is a deterministic CROSS-ENGINE PARITY
    * surface — it exists so the mechanism's *structure* (sensitivity
    * bounding, per-release noise, budget accounting in
    * [[privacyBudget]]) is testable bit-for-bit against an oracle. A
    * real deployment must (a) pass a high-entropy SECRET `salt`
    * unknown to any release consumer, and (b) replace the truncated
    * 8-bit draw with a full-support geometric sampled from a CSPRNG.
    *
    * The released column is n + noise (floored at 0); `n` itself is
    * kept in the output because this is the AUDIT surface the oracle
    * checks — a production release would project it away. Per-group
    * work after the count aggregation is one row. */
  /** The ±5-truncated two-sided geometric draw at an 8-bit coin —
    * shared by the DP releases. */
  private def geomNoise(u: Column): Column =
    when(u < 5, -5L).when(u < 10, -4L).when(u < 21, -3L)
      .when(u < 42, -2L).when(u < 85, -1L).when(u < 170, 0L)
      .when(u < 213, 1L).when(u < 234, 2L).when(u < 245, 3L)
      .when(u < 250, 4L).otherwise(5L)

  def dpNoisyCounts(df: DataFrame, groupCol: String,
      salt: String = "dp"): DataFrame =
    dpReleaseFromCounts(
      df.groupBy(col(groupCol)).agg(count(lit(1)).as("n")),
      groupCol, salt)

  /** The release step of [[dpNoisyCounts]] over an ALREADY-aggregated
    * (group, n) relation — the noise is a deterministic function of
    * (salt, group) alone, independent of n and of how the counts were
    * accumulated, which is exactly what makes the release
    * streaming-consistent: applying it to a maintained additive count
    * state (StreamingOps.maintainDpCountState) yields bit-identical
    * output to the batch release over the concatenated stream. Same
    * "not a privacy mechanism as shipped" caveat as [[dpNoisyCounts]]. */
  def dpReleaseFromCounts(counts: DataFrame, groupCol: String,
      salt: String = "dp"): DataFrame = {
    val u = u8(concat(lit(salt), lit(":"), col(groupCol).cast("string")))
    counts
      .withColumn("noise", geomNoise(u))
      .withColumn("released", greatest(col("n") + col("noise"), lit(0L)))
  }

  /** ε-DP mean release per group — the clipped-sum mechanism: each
    * value is CLIPPED to [0, clip] (bounding the sum's sensitivity at
    * `clip`), the integer clipped sum gets geometric noise scaled by
    * the sensitivity, the count gets the unit-sensitivity draw (two
    * independent salts), and the released mean is the noisy ratio —
    * the standard ratio estimator of DP practice (each numerator and
    * denominator its own ε = ln 2 geometric release). Values ride as
    * exact integer cents; the only IEEE op is the final divide, so
    * the release is bit-reproducible in any engine with md5. Like
    * [[dpNoisyCounts]] this is the AUDIT surface — the true n/sum
    * stay in the output for the oracle; a production release projects
    * them away. The same caveat as [[dpNoisyCounts]] applies verbatim:
    * the md5-coin default provides NO privacy (recomputable noise, a
    * truncated lattice draw) — it is the deterministic parity surface
    * for testing the mechanism's structure, not a DP implementation. */
  def dpNoisyMean(df: DataFrame, groupCol: String, valueCol: String,
      clip: Double = 100.0, salt: String = "dp"): DataFrame =
    dpMeanReleaseFromState(
      df.groupBy(col(groupCol))
        .agg(count(lit(1)).as("n"),
          sum(dpClippedUnits(valueCol, clip)).as("clipped_units")),
      groupCol, clip, salt)

  /** The per-row clipped integer units of [[dpNoisyMean]]: values ride
    * as exact DECIMAL(18,4) units ×10⁴ (the engine's established
    * double→decimal parity scale — the dsum pattern), clamped to
    * [0, clip·10⁴] so the sum's sensitivity is bounded at `clip`.
    * Shared by the batch release and the streaming maintainer so the
    * accumulated state can never drift from the batch definition. */
  def dpClippedUnits(valueCol: String, clip: Double): Column =
    least(greatest(
      (col(valueCol).cast(DecimalType(18, 4)) * 10000).cast("long"),
      lit(0L)), lit(math.round(clip * 10000)))

  /** The release step of [[dpNoisyMean]] over an ALREADY-aggregated
    * (group, n, clipped_units) relation — like
    * [[dpReleaseFromCounts]], both noise draws are deterministic in
    * (salt, group) alone, so the release over a maintained additive
    * state (StreamingOps.maintainDpMeanState) is bit-identical to the
    * batch release over the concatenated stream. Same "not a privacy
    * mechanism as shipped" caveat as [[dpNoisyCounts]]. */
  def dpMeanReleaseFromState(state: DataFrame, groupCol: String,
      clip: Double = 100.0, salt: String = "dp"): DataFrame = {
    val clipUnits = math.round(clip * 10000)
    val uSum = u8(concat(lit(salt), lit(":s:"),
      col(groupCol).cast("string")))
    val uCnt = u8(concat(lit(salt), lit(":n:"),
      col(groupCol).cast("string")))
    state
      .withColumn("noisy_n",
        greatest(col("n") + geomNoise(uCnt), lit(0L)))
      .withColumn("noisy_units",
        greatest(col("clipped_units") + geomNoise(uSum) * clipUnits,
          lit(0L)))
      .withColumn("released_mean",
        col("noisy_units").cast("double") / lit(10000.0) /
          nullif(col("noisy_n"), lit(0L)).cast("double"))
  }

  /** Two-proportion z-test per group (the pooled-variance normal
    * approximation — standard A/B practice for CONVERSION metrics,
    * the proportions complement of [[abWelch]]'s means test):
    * z = (p_a − p_b) / √(p̂(1−p̂)(1/n_a + 1/n_b)) with p̂ the pooled
    * success rate. Counts are exact longs (no decimal moments needed —
    * a proportion's sufficient statistic IS its count pair); the
    * statistic is one fixed IEEE expression over them. Scale: one
    * map-side-combined aggregation to |groups| rows. Output:
    * (group, n_a, x_a, n_b, x_b, p_a, p_b, z). */
  def abProportions(df: DataFrame, groupCol: String, armCol: String,
      successCol: String): DataFrame = {
    val a = col(armCol) === 0
    val s = col(successCol).cast("long")
    val agg = df.groupBy(col(groupCol)).agg(
      count(when(a, lit(1))).as("n_a"),
      sum(when(a, s)).cast("long").as("x_a"),
      count(when(!a, lit(1))).as("n_b"),
      sum(when(!a, s)).cast("long").as("x_b"))
    val pa = col("x_a").cast("double") / col("n_a").cast("double")
    val pb = col("x_b").cast("double") / col("n_b").cast("double")
    val pp = (col("x_a") + col("x_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    agg.select(col(groupCol), col("n_a"), col("x_a"), col("n_b"),
        col("x_b"), pa.as("p_a"), pb.as("p_b"),
        ((pa - pb) / sqrt(pp * (lit(1.0) - pp) *
          (lit(1.0) / col("n_a").cast("double") +
            lit(1.0) / col("n_b").cast("double")))).as("z"))
  }

  /** TOST equivalence test on two-arm conversion rates (Schuirmann
    * 1987 — public): the readout for the question the z-test CANNOT
    * answer — "are these two arms the SAME, within a margin δ" —
    * because failing to reject ≠ equivalence. Two one-sided tests at
    * level α against the margins ±δ:
    *   z_low = (Δ̂ + δ)/se   must exceed  z_{1−α}
    *   z_up  = (Δ̂ − δ)/se   must fall below −z_{1−α}
    * with Δ̂ = p_a − p_b as one IEEE division of exact cross products
    * and the UNPOOLED se = √(p_a(1−p_a)/n_a + p_b(1−p_b)/n_b) (the
    * pooled-variance shortcut assumes the null of equality — exactly
    * what TOST does not assume). δ and z_{0.95} = 1.6448536269514722
    * are parsed literals; the margin is rational (num/den) so δ
    * parses identically everywhere. `equivalent` requires BOTH
    * one-sided rejections — the interval (Δ̂ ± z·se) ⊂ (−δ, δ).
    *
    * Scale: ONE map-side-combined aggregation to |groups| rows. */
  def tostEquivalence(df: DataFrame, groupCol: String, armCol: String,
      successCol: String, marginNum: Long = 1L,
      marginDen: Long = 20L): DataFrame = {
    val dec = DecimalType(38, 0)
    val a = col(armCol) === 0
    val s = col(successCol).cast("long")
    val agg = df.groupBy(col(groupCol).as("grp")).agg(
      count(when(a, lit(1))).as("n_a"),
      sum(when(a, s)).cast("long").as("x_a"),
      count(when(!a, lit(1))).as("n_b"),
      sum(when(!a, s)).cast("long").as("x_b"))
    val delta = (col("x_a").cast(dec) * col("n_b").cast(dec) -
      col("x_b").cast(dec) * col("n_a").cast(dec)).cast("double") /
      (col("n_a").cast(dec) * col("n_b").cast(dec)).cast("double")
    val pa = col("x_a").cast("double") / col("n_a").cast("double")
    val pb = col("x_b").cast("double") / col("n_b").cast("double")
    val se = sqrt(pa * (lit(1.0) - pa) / col("n_a").cast("double") +
      pb * (lit(1.0) - pb) / col("n_b").cast("double"))
    val margin = lit(marginNum.toDouble) / lit(marginDen.toDouble)
    val zCrit = lit(1.6448536269514722)
    val zLow = (delta + margin) / se
    val zUp = (delta - margin) / se
    agg.select(col("grp"), col("n_a"), col("x_a"), col("n_b"),
      col("x_b"), delta.as("delta"), se.as("se"),
      zLow.as("z_low"), zUp.as("z_up"),
      (zLow > zCrit && zUp < -zCrit).as("equivalent"))
  }

  /** Cochran–Mantel–Haenszel stratified 2×2 association (Mantel &
    * Haenszel 1959; Cochran 1954 — public): the Simpson's-paradox-
    * proof readout — does the treatment move the rate WITHIN strata,
    * with the between-stratum mix confound removed. Per stratum k
    * with cells (a, b, c, d), n = a+b+c+d:
    *   E_k = (a+b)(a+c)/n,   V_k = (a+b)(c+d)(a+c)(b+d)/(n²(n−1))
    *   χ²_CMH = (Σa − ΣE)² / ΣV        (df = 1)
    *   OR_MH  = Σ(a·d/n) / Σ(b·c/n)    (the pooled odds ratio)
    * Per-stratum E, V and the two OR terms are single fixed IEEE
    * trees over exact DECIMAL(38,0) cell products, each FLOORED onto
    * the 10⁻⁶ grid and summed in exact decimal (the dsum discipline —
    * a stratum-ordered double sum would be association-dependent);
    * the final clearing is one square and two divisions. Degenerate
    * ΣV = 0 pins χ² to 0; OR_MH pins NaN when its denominator sum
    * is 0. Strata with n < 2 carry no variance and no evidence.
    *
    * Scale: ONE (grp, stratum) aggregation to the cell relation
    * (groups × strata rows), one collapse to |groups|. */
  def cmhTest(df: DataFrame, groupCol: String, stratumCol: String,
      armCol: String, successCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val arm0 = col(armCol) === 0
    val succ = col(successCol).cast("long") =!= 0L
    val cells = df
      .where(col(stratumCol).isNotNull && col(successCol).isNotNull)
      .groupBy(col(groupCol).as("grp"), col(stratumCol).as("k"))
      .agg(sum(when(arm0 && succ, 1L).otherwise(0L)).as("a"),
        sum(when(arm0 && !succ, 1L).otherwise(0L)).as("b"),
        sum(when(!arm0 && succ, 1L).otherwise(0L)).as("c"),
        sum(when(!arm0 && !succ, 1L).otherwise(0L)).as("d"))
    def dc(c: Column): Column = c.cast(dec)
    val ab = (dc(col("a")) + dc(col("b"))).cast(dec)
    val cd = (dc(col("c")) + dc(col("d"))).cast(dec)
    val ac = (dc(col("a")) + dc(col("c"))).cast(dec)
    val bd = (dc(col("b")) + dc(col("d"))).cast(dec)
    val n = (ab + cd).cast(dec)
    val eK = (ab * ac).cast(dec).cast("double") / n.cast("double")
    val vNum = (ab * cd * ac * bd).cast(dec)
    val vDen = (n * n * (n - lit(1L).cast(dec))).cast(dec)
    val vK = vNum.cast("double") / vDen.cast("double")
    val orNumK = (dc(col("a")) * dc(col("d"))).cast(dec)
      .cast("double") / n.cast("double")
    val orDenK = (dc(col("b")) * dc(col("c"))).cast(dec)
      .cast("double") / n.cast("double")
    def grid(c: Column): Column = floor(c * lit(1e6)).cast(dec)
    val g = cells.groupBy(col("grp")).agg(
      sum(col("a")).as("sum_a"),
      sum(grid(eK)).as("se_grid"),
      sum(when(n > lit(1L).cast(dec), grid(vK))
        .otherwise(lit(0L).cast(dec))).as("sv_grid"),
      sum(grid(orNumK)).as("son_grid"),
      sum(grid(orDenK)).as("sod_grid"),
      count(lit(1)).as("n_strata"))
    val num = col("sum_a").cast("double") -
      col("se_grid").cast("double") / lit(1e6)
    val vD = col("sv_grid").cast("double") / lit(1e6)
    val chi2 = when(vD > lit(0.0), num * num / vD).otherwise(lit(0.0))
    g.select(col("grp"), col("n_strata"), col("sum_a"),
      (col("se_grid").cast("double") / lit(1e6)).as("expected"),
      vD.as("variance"), chi2.as("chi2"),
      (chi2 > lit(3.841458820694124)).as("assoc"),
      when(col("sod_grid") > lit(0L).cast(dec),
        col("son_grid").cast("double") / col("sod_grid").cast("double"))
        .otherwise(lit(Double.NaN)).as("or_mh"))
  }

  /** Multiple-testing control for a metric sheet: a deterministic
    * Monte-Carlo randomization test per group (Fisher 1935; the
    * two-sample random-reassignment form) followed by the
    * Benjamini–Hochberg step-up (JRSS-B 1995 — public), the FDR
    * control every many-metric A/B readout needs before anyone acts
    * on its smallest p-value.
    *
    * Per group g: the observed statistic is T = |x_a/n_a − x_b/n_b|
    * over the caller's arm split; replicate b ∈ [0, B) reassigns each
    * UNIT (all its rows together) to a pseudo-arm by the parity of
    * byte b mod 16 of md5(unit:⌊b/16⌋) — the [[bootstrapMeanCi]]
    * hash-coin family, so the draw is identical in any engine with
    * md5. p_g = (1 + #{b : T_b ≥ T}) / (B+1), the add-one Monte-Carlo
    * p-value (Davison & Hinkley) — an exact RATIONAL with integer
    * numerator `p_num`, which is what makes the BH comparison below
    * pure integer arithmetic. A degenerate replicate (one arm empty)
    * counts as exceeding — conservative, and measure-zero at real
    * group sizes. T itself is compared cross-engine via one IEEE
    * division of exact DECIMAL(38,0) cross products
    * |x_a·n_b − x_b·n_a| / (n_a·n_b) — same doubles in both engines.
    *
    * BH at level q = qNum/qDen: order the m groups by (p_num, grp),
    * reject ranks 1..k where k = max{i : p_num·qDen·m ≤ (B+1)·qNum·i}
    * — every quantity an integer, no float thresholds. The ranking is
    * a broadcast m² self-join (m = #groups, bounded by construction),
    * NOT a global window — the repo's single-partition-window ban.
    *
    * Scale: ONE map-side-combined aggregation collapses the corpus to
    * m rows of 2B+4 longs (the constant-multiplier law — B rides as a
    * column multiplier, never a row multiplier); everything after
    * runs on m rows. Output per group: (grp, n_a, x_a, n_b, x_b,
    * p_num, p_value, bh_rank, reject). */
  def randomizationFdr(df: DataFrame, groupCol: String, unitCol: String,
      armCol: String, successCol: String, b: Int = 64,
      qNum: Int = 1, qDen: Int = 20): DataFrame = {
    require(b % 16 == 0, "b must be a multiple of 16 md5 bytes")
    val chunks = b / 16
    val unit = col(unitCol).cast("string")
    val withH = df.select(
      (col(groupCol).as("grp") +: col(armCol).as("arm") +:
        col(successCol).cast("long").as("succ") +:
        (0 until chunks).map(c =>
          md5(concat_ws(":", unit, lit(c.toString))).as(s"h$c"))): _*)
    // bit r of replicate: parity of raw digest byte r mod 16 = parity
    // of the LOW hex char of hex pair r mod 16 (chars are 1-indexed)
    def bit(r: Int): Column =
      (hexVal(substring(col(s"h${r / 16}"), 2 * (r % 16) + 2, 1)) % 2)
        .cast("long")
    val a = col("arm") === 0
    val aggs =
      count(lit(1)).as("n") +: sum(col("succ")).as("x") +:
        sum(when(a, 1L).otherwise(0L)).as("n_a") +:
        sum(when(a, col("succ")).otherwise(0L)).as("x_a") +:
        (0 until b).flatMap(r => Seq(
          sum(bit(r)).as(s"cb$r"),
          sum(bit(r) * col("succ")).as(s"sb$r")))
    val g = withH.groupBy(col("grp")).agg(aggs.head, aggs.tail: _*)
    val d19 = DecimalType(19, 0)
    // |xa·nb − xb·na| / (na·nb) as ONE IEEE division of exact decimals;
    // null when an arm is empty
    def tstat(na: Column, xa: Column, n: Column, x: Column): Column = {
      val nb = n - na
      val num = abs(xa.cast(d19) * nb.cast(d19) -
        (x - xa).cast(d19) * na.cast(d19))
      when(na === 0 || nb === 0, lit(null).cast("double"))
        .otherwise(num.cast("double") /
          (na.cast(d19) * nb.cast(d19)).cast("double"))
    }
    val tObs = tstat(col("n_a"), col("x_a"), col("n"), col("x"))
    val exceed = (0 until b).map { r =>
      val tb = tstat(col(s"cb$r"), col(s"sb$r"), col("n"), col("x"))
      when(tb.isNull || tb >= col("t_obs"), 1L).otherwise(0L)
    }.reduce(_ + _)
    val scored = g.withColumn("t_obs", tObs)
      .withColumn("p_num",
        when(col("t_obs").isNull, lit(b + 1L))
          .otherwise(lit(1L) + exceed))
      .select(col("grp"), col("n_a"), col("x_a"),
        (col("n") - col("n_a")).as("n_b"),
        (col("x") - col("x_a")).as("x_b"), col("p_num"))
      .localCheckpoint(true)
    // BH step-up on m rows: rank by (p_num, grp) via a broadcast m²
    // self-join, k = the largest passing rank, reject ranks ≤ k
    val ranked = scored.as("l").join(
        broadcast(scored.select(col("grp").as("rg"),
          col("p_num").as("rp"))),
        col("rp") < col("p_num") ||
          (col("rp") === col("p_num") && col("rg") <= col("grp")))
      .groupBy(col("grp"), col("n_a"), col("x_a"), col("n_b"),
        col("x_b"), col("p_num"))
      .agg(count(lit(1)).as("bh_rank"))
    // m is the bounded group count (the checkpoint above makes this a
    // metadata-cheap read, not a recompute)
    val m = scored.count()
    val mAndK = ranked
      .agg(max(when(col("p_num") * lit(qDen.toLong) * lit(m) <=
            lit((b + 1).toLong) * lit(qNum.toLong) * col("bh_rank"),
            col("bh_rank"))
          .otherwise(0L)).as("bh_k"))
    ranked.crossJoin(broadcast(mAndK))
      .select(col("grp"), col("n_a"), col("x_a"), col("n_b"),
        col("x_b"), col("p_num"),
        (col("p_num").cast("double") / lit((b + 1).toDouble))
          .as("p_value"),
        col("bh_rank"), (col("bh_rank") <= col("bh_k")).as("reject"))
  }

  /** Holm–Bonferroni step-down (Holm 1979 — public) over a sheet of
    * rational p-values — the FWER companion of the BH step-up in
    * [[randomizationFdr]]: BH controls the EXPECTED false-discovery
    * fraction, Holm guarantees (under any dependence) that the chance
    * of even ONE false rejection stays below α — the guardrail-metric
    * regime, where a single false alarm pages someone. Rejects ranks
    * 1..k where k+1 is the FIRST rank failing
    * p_(i) ≤ α/(m − i + 1) — pure integer arithmetic on the rational
    * p numerators (p_num/pDen vs αNum/αDen cross-multiplied), the
    * rank from the same broadcast m² self-join as BH (no window).
    * Step-down means one early failure blocks everything after it,
    * even later p-values that would pass their own threshold. */
  def holmStepDown(sheet: DataFrame, idCol: String, pNumCol: String,
      pDen: Long, alphaNum: Long = 1L, alphaDen: Long = 20L)
      : DataFrame = {
    val s = sheet.select(col(idCol).as("id"), col(pNumCol).as("p_num"))
      .localCheckpoint(true)
    val ranked = s.as("l").join(
        broadcast(s.select(col("id").as("rg"), col("p_num").as("rp"))),
        col("rp") < col("p_num") ||
          (col("rp") === col("p_num") && col("rg") <= col("id")))
      .groupBy(col("id"), col("p_num"))
      .agg(count(lit(1)).as("holm_rank"))
    val m = s.count()
    val pass = col("p_num") * lit(alphaDen) *
      (lit(m) - col("holm_rank") + lit(1L)) <= lit(alphaNum * pDen)
    val cut = ranked.agg(coalesce(
      min(when(!pass, col("holm_rank"))) - lit(1L), lit(m))
      .as("holm_k"))
    ranked.crossJoin(broadcast(cut))
      .select(col("id").as(idCol), col("p_num"), col("holm_rank"),
        (col("holm_rank") <= col("holm_k")).as("reject"))
  }

  /** Heaps' law fit (Heaps 1978; Herdan — public): vocabulary grows
    * as V(n) ≈ K·n^β with the token count n; β (typically 0.4–0.6
    * for natural language) is the growth exponent a curator reads to
    * extrapolate "how much NEW vocabulary will the next 10× of this
    * source bring" — the longitudinal companion of the Chao1 point
    * estimate. Fit: per-doc new-type counts (each type charged to its
    * FIRST document), cumulative tokens/types via the two-phase
    * bucketed prefix scan (no single-partition window), both logs
    * grid-floored on integer operands, and the OLS slope cleared as
    *   β = (Σxy/n − (Σx/n)(Σy/n)) / (Σx²/n − (Σx/n)²)
    * — sums EXACT DECIMAL(38,0) over grid BIGINTs, the clearing a
    * fixed IEEE tree (the /n-first form keeps every operand under 38
    * digits at any corpus size). Output: (n_points, beta, ln_k,
    * vocab, tokens). */
  def heapsLaw(documents: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val toks = documents.select(col("doc_id"),
      explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .where(col("token") =!= "")
    val perDoc = toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"))
    val newTypes = toks.groupBy(col("token"))
      .agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("new_types"))
    val docs = perDoc.join(newTypes, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_toks"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
    val cumT = RelationalOps
      .distributedPrefixSum(docs, "doc_id", "n_toks")
      .withColumnRenamed("cum", "cum_tokens")
    val cum2 = RelationalOps
      .distributedPrefixSum(cumT, "doc_id", "new_types")
      .withColumnRenamed("cum", "cum_types")
    val pts = cum2.where(col("cum_tokens") >= 1L &&
        col("cum_types") >= 1L)
      .select(lnG(col("cum_tokens")).as("x"),
        lnG(col("cum_types")).as("y"))
    val sums = pts.agg(count(lit(1)).as("n"),
      sum(col("x").cast(dec)).as("sx"),
      sum(col("y").cast(dec)).as("sy"),
      sum((col("x").cast(dec) * col("y").cast(dec)).cast(dec)).as("sxy"),
      sum((col("x").cast(dec) * col("x").cast(dec)).cast(dec)).as("sxx"))
    val nD = col("n").cast("double")
    val mx = col("sx").cast("double") / nD / lit(1e12)
    val my = col("sy").cast("double") / nD / lit(1e12)
    val cov = col("sxy").cast("double") / nD / lit(1e24) - mx * my
    val vx = col("sxx").cast("double") / nD / lit(1e24) - mx * mx
    val vocabTok = cum2.agg(max(col("cum_types")).as("vocab"),
      max(col("cum_tokens")).as("tokens"))
    sums.crossJoin(broadcast(vocabTok))
      .select(col("n").as("n_points"),
        when(col("n") >= 2L && vx > lit(0.0), cov / vx)
          .otherwise(lit(Double.NaN)).as("beta"),
        when(col("n") >= 2L && vx > lit(0.0), my - cov / vx * mx)
          .otherwise(lit(Double.NaN)).as("ln_k"),
        col("vocab"), col("tokens"))
  }

  /** Population Stability Index between a reference and a current
    * slice of the same relation (the credit-scoring drift metric,
    * Siddiqi 2006 — public; the monitoring statistic data pipelines
    * run between corpus snapshots before retraining):
    * PSI = Σ_bins (p_i − q_i)·ln(p_i/q_i), with add-one (Laplace)
    * smoothing so a bin present in only one slice contributes a
    * finite term instead of ±∞: p_i = (c_ref,i + 1)/(n_ref + B),
    * q_i = (c_cur,i + 1)/(n_cur + B) over the B bins observed in
    * either slice. Conventional read: < 0.1 stable, > 0.25 shifted.
    *
    * Determinism: ln(p/q) = ln(a·N₂) − ln(b·N₁) — both operands
    * integer-valued doubles (the pinned cross-engine ln class), each
    * floored onto the 10⁻¹² grid as BIGINT — and the bin term clears
    * (p − q) to the exact cross product a·N₂ − b·N₁, so the total's
    * accumulation Σ (a·N₂ − b·N₁)·(lnGa − lnGb) is EXACT
    * DECIMAL(38,0) integer arithmetic; the only IEEE steps are the
    * final per-row divisions (bounds: counts to 10¹² keep the product
    * under 38 digits with the grid's 10¹³ factor).
    *
    * Scale: ONE map-side-combined aggregation collapses the corpus to
    * B bin rows (conditional sums — the slice flag rides as a column,
    * never a shuffle key); totals are a singleton broadcast. Output
    * per bin: (bin, c_ref, c_cur, ln_ratio, psi_term, psi_total) —
    * psi_total repeated on every row for a relation-shaped readout. */
  def psiDrift(df: DataFrame, binCol: String, isRefCol: String)
      : DataFrame =
    psiFromBinCounts(
      df.groupBy(col(binCol).as("bin"))
        .agg(sum(when(col(isRefCol), 1L).otherwise(0L)).as("c_ref"),
          sum(when(col(isRefCol), 0L).otherwise(1L)).as("c_cur")))

  /** The PSI computation over an already-binned (bin, c_ref, c_cur)
    * relation — shared by [[psiDrift]] and the streaming maintainer's
    * read side (`StreamingOps.psiStateRelease`), so the two surfaces
    * can never drift. */
  def psiFromBinCounts(binned: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val totals = binned.agg(sum(col("c_ref")).as("n_ref"),
      sum(col("c_cur")).as("n_cur"), count(lit(1)).as("b_bins"))
    val a = (col("c_ref") + lit(1L)).cast(dec)
    val b = (col("c_cur") + lit(1L)).cast(dec)
    val n1 = (col("n_ref") + col("b_bins")).cast(dec)
    val n2 = (col("n_cur") + col("b_bins")).cast(dec)
    val terms = binned.crossJoin(broadcast(totals))
      .withColumn("num", (a * n2 - b * n1).cast(dec))
      .withColumn("lng", (lnG(a * n2) - lnG(b * n1)).cast("long"))
      .withColumn("den", (n1 * n2).cast(dec))
    val total = terms
      .agg(sum((col("num") * col("lng")).cast(dec)).as("s"),
        max(col("den")).as("d"))
      .select((col("s").cast("double") / col("d").cast("double") /
        lit(1e12)).as("psi_total"))
    terms.crossJoin(broadcast(total))
      .select(col("bin"), col("c_ref"), col("c_cur"),
        (col("lng").cast("double") / lit(1e12)).as("ln_ratio"),
        (col("num").cast("double") / col("den").cast("double") *
          (col("lng").cast("double") / lit(1e12))).as("psi_term"),
        col("psi_total"))
  }

  /** Jensen–Shannon divergence (Lin 1991 — public) plus both KL
    * directions between a reference and a current slice — the
    * BOUNDED, symmetric companion to [[psiDrift]]: JSD lives in
    * [0, ln 2] whatever the shift (a bin present in only one slice
    * sends KL and PSI toward ∞ but JSD stays finite), which is why
    * corpus-mix monitoring dashboards prefer it. Same add-one
    * smoothing over the B observed bins; with a = c_ref+1,
    * b = c_cur+1, N₁ = n_ref+B, N₂ = n_cur+B and m = (p+q)/2:
    *   ln(p/q) = lnG(a·N₂) − lnG(b·N₁)
    *   ln(p/m) = lnG(2·a·N₂) − lnG(a·N₂ + b·N₁)
    *   ln(q/m) = lnG(2·b·N₁) − lnG(a·N₂ + b·N₁)
    * — every ln operand integer-valued (the pinned cross-engine
    * class), floored onto the 10⁻¹² grid; the three totals
    * KL(p‖q) = Σ a·lnpq / N₁, KL(q‖p) = Σ b·(−lnpq) / N₂ and
    * JSD = ½(Σ a·lnpm / N₁ + Σ b·lnqm / N₂) accumulate their
    * integer-product sums in EXACT DECIMAL(38,0); the only IEEE steps
    * are the final fixed division trees.
    *
    * Scale: identical to PSI — ONE map-side-combined aggregation to B
    * bin rows, totals as singleton broadcasts, the slice flag a
    * column, never a shuffle key. Output per bin: (bin, c_ref, c_cur,
    * jsd_term, kl_pq, kl_qp, jsd_total) with the totals repeated. */
  def jsdDrift(df: DataFrame, binCol: String, isRefCol: String)
      : DataFrame =
    jsdFromBinCounts(
      df.groupBy(col(binCol).as("bin"))
        .agg(sum(when(col(isRefCol), 1L).otherwise(0L)).as("c_ref"),
          sum(when(col(isRefCol), 0L).otherwise(1L)).as("c_cur")))

  /** The JSD/KL computation over an already-binned
    * (bin, c_ref, c_cur) relation — shared with the PSI streaming
    * maintainer's state (`StreamingOps.maintainPsiState` keeps
    * exactly this relation), so one maintained bin table serves both
    * drift readouts. */
  def jsdFromBinCounts(binned: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val totals = binned.agg(sum(col("c_ref")).as("n_ref"),
      sum(col("c_cur")).as("n_cur"), count(lit(1)).as("b_bins"))
    val a = (col("c_ref") + lit(1L)).cast(dec)
    val b = (col("c_cur") + lit(1L)).cast(dec)
    val n1 = (col("n_ref") + col("b_bins")).cast(dec)
    val n2 = (col("n_cur") + col("b_bins")).cast(dec)
    val terms = binned.crossJoin(broadcast(totals))
      .withColumn("av", a)
      .withColumn("bv", b)
      .withColumn("n1", n1)
      .withColumn("n2", n2)
      .withColumn("lnpq",
        (lnG(a * n2) - lnG(b * n1)).cast("long"))
      .withColumn("lnpm",
        (lnG(a * n2 * lit(2L).cast(dec)) - lnG(a * n2 + b * n1))
          .cast("long"))
      .withColumn("lnqm",
        (lnG(b * n1 * lit(2L).cast(dec)) - lnG(a * n2 + b * n1))
          .cast("long"))
    val total = terms
      .agg(
        sum((col("av") * col("lnpq")).cast(dec)).as("s_pq"),
        // negate per-term in exact decimal — never negate an IEEE 0
        sum((col("bv") * (lit(0L).cast(dec) - col("lnpq"))).cast(dec))
          .as("s_qp"),
        sum((col("av") * col("lnpm")).cast(dec)).as("s_pm"),
        sum((col("bv") * col("lnqm")).cast(dec)).as("s_qm"),
        max(col("n1")).as("t1"), max(col("n2")).as("t2"))
      .select(
        (col("s_pq").cast("double") / col("t1").cast("double") /
          lit(1e12)).as("kl_pq"),
        (col("s_qp").cast("double") / col("t2").cast("double") /
          lit(1e12)).as("kl_qp"),
        ((col("s_pm").cast("double") / col("t1").cast("double") +
          col("s_qm").cast("double") / col("t2").cast("double")) /
          lit(2.0) / lit(1e12)).as("jsd_total"))
    terms.crossJoin(broadcast(total))
      .select(col("bin"), col("c_ref"), col("c_cur"),
        ((col("av").cast("double") / col("n1").cast("double") *
          (col("lnpm").cast("double") / lit(1e12)) +
          col("bv").cast("double") / col("n2").cast("double") *
            (col("lnqm").cast("double") / lit(1e12))) / lit(2.0))
          .as("jsd_term"),
        col("kl_pq"), col("kl_qp"), col("jsd_total"))
  }

  /** Always-valid sequential A/B monitoring: the mixture Sequential
    * Probability Ratio Test of Johari–Koomen–Pekelis–Walsh (KDD'17
    * "Peeking at A/B Tests" — public), the readout that stays a valid
    * p-value no matter how often the experimenter looks. Per group,
    * the daily cumulative two-arm conversion stream yields
    *   Δ̂_d = x_a/n_a − x_b/n_b,   V_d = x(n−x)/(n·n_a·n_b)
    * (the pooled-variance estimate of Var Δ̂), and the normal-mixture
    * likelihood ratio with prior scale τ²:
    *   ln Λ_d = ½·ln(V/(V+τ²)) + Δ̂²·τ² / (2·V·(V+τ²)).
    * The always-valid p-value is p_d = min(1, 1/max_{t≤d} Λ_t),
    * reported in LOG domain (exp is not bit-identical across engines):
    * log_p = −max(0, running max of ln Λ). It only ever decreases —
    * stopping the day it crosses ln α keeps the false-positive rate
    * below α at ANY stopping rule, which fixed-horizon z-tests lose
    * the moment anyone peeks.
    *
    * Determinism: V/(V+τ²) clears to the exact integer ratio
    * vn·τd / (vn·τd + τn·vd) with vn = x(n−x), vd = n·n_a·n_b in
    * DECIMAL(38,0) — both lns land on integer-valued doubles (the
    * pinned class) and are floored onto the 10⁻¹² grid; Δ̂ and the
    * quadratic term are a fixed IEEE expression tree over single
    * divisions of exact decimals. Days with an empty arm or a
    * degenerate pooled rate (x = 0 or x = n) carry ln Λ = 0 — no
    * evidence either way.
    *
    * Scale: ONE aggregation collapses the corpus to the |groups|×days
    * daily relation; the cumulative and running-max windows are
    * partitioned per group and ordered by DAY — bounded by the
    * calendar, never the corpus (the autocorrelation window
    * discipline). Output per (grp, day): cumulative n_a, x_a, n_b,
    * x_b, log_lambda, log_p, significant (log_p ≤ ln 0.05). */
  def msprtSequential(df: DataFrame, groupCol: String, tsCol: String,
      armCol: String, successCol: String, tauSqNum: Long = 1L,
      tauSqDen: Long = 100L): DataFrame =
    msprtFromDaily(msprtDaily(df, groupCol, tsCol, armCol, successCol),
      tauSqNum, tauSqDen)

  /** The corpus-collapsing half of [[msprtSequential]]: ONE map-side
    * aggregation to the (grp, day, da, dxa, db, dxb) daily two-arm
    * sufficient statistics. ADDITIVE in the rows — which is exactly
    * what makes the monitor streaming-maintainable
    * (`StreamingOps.maintainMsprtState` keeps this relation current
    * micro-batch by micro-batch). */
  def msprtDaily(df: DataFrame, groupCol: String, tsCol: String,
      armCol: String, successCol: String): DataFrame = {
    val aSide = col(armCol) === 0
    df.groupBy(col(groupCol).as("grp"),
        to_date(col(tsCol)).as("day"))
      .agg(sum(when(aSide, 1L).otherwise(0L)).as("da"),
        sum(when(aSide, col(successCol).cast("long")).otherwise(0L))
          .as("dxa"),
        sum(when(aSide, 0L).otherwise(1L)).as("db"),
        sum(when(aSide, 0L).otherwise(col(successCol).cast("long")))
          .as("dxb"))
  }

  /** The readout half of [[msprtSequential]] over an already-daily
    * (grp, day, da, dxa, db, dxb) relation — shared by the batch
    * surface and the streaming maintainer's read side
    * (`StreamingOps.msprtStateRelease`), so the two can never drift.
    * All windows run per group on calendar-bounded rows. */
  def msprtFromDaily(daily: DataFrame, tauSqNum: Long = 1L,
      tauSqDen: Long = 100L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = DecimalType(38, 0)
    // cumulative sufficient statistics: the per-group window runs on
    // the DAILY relation — rows bounded by the calendar
    val w = Window.partitionBy(col("grp")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = daily.select(col("grp"), col("day"),
      sum(col("da")).over(w).as("n_a"),
      sum(col("dxa")).over(w).as("x_a"),
      sum(col("db")).over(w).as("n_b"),
      sum(col("dxb")).over(w).as("x_b"))
    val n = (col("n_a") + col("n_b")).cast(dec)
    val x = (col("x_a") + col("x_b")).cast(dec)
    val vn = (x * (n - x)).cast(dec)
    val vd = (n * col("n_a").cast(dec) * col("n_b").cast(dec)).cast(dec)
    val u = (vn * lit(tauSqDen).cast(dec)).cast(dec)
    val uw = (u + lit(tauSqNum).cast(dec) * vd).cast(dec)
    val tau2 = lit(tauSqNum.toDouble / tauSqDen.toDouble)
    val vDbl = vn.cast("double") / vd.cast("double")
    val delta = (col("x_a").cast(dec) * col("n_b").cast(dec) -
      col("x_b").cast(dec) * col("n_a").cast(dec)).cast("double") /
      (col("n_a").cast(dec) * col("n_b").cast(dec)).cast("double")
    val logLambda = when(col("n_a") === 0 || col("n_b") === 0 ||
        vn === lit(0L).cast(dec), lit(0.0))
      .otherwise(
        (lnG(u) - lnG(uw)).cast("double") / lit(2e12) +
          delta * delta * tau2 /
            (lit(2.0) * vDbl * (vDbl + tau2)))
    val scored = cum.withColumn("log_lambda", logLambda)
    val runMax = max(col("log_lambda")).over(w)
    scored
      // branch, don't negate a clamped max: -0.0 vs 0.0 is an
      // engine-serialization hazard when the running max is exactly 0
      .withColumn("log_p",
        when(runMax > lit(0.0), -runMax).otherwise(lit(0.0)))
      .withColumn("significant",
        // ln(0.05) as a parsed literal (the BM25 constant discipline)
        col("log_p") <= lit(-2.995732273553991))
      .select(col("grp"), col("day"), col("n_a"), col("x_a"),
        col("n_b"), col("x_b"), col("log_lambda"), col("log_p"),
        col("significant"))
  }

  /** Sample-ratio-mismatch guardrail (Fabijan et al., KDD'19 "Diagnosing
    * Sample Ratio Mismatch" — public): the first sanity check every
    * experimentation platform runs before reading ANY metric — if the
    * realized arm split disagrees with the design ratio, assignment is
    * broken and all downstream readouts are invalid. For a two-arm
    * design ratio r_a : r_b, the df=1 Pearson χ² against expectation
    * clears to ONE exact integer cross product:
    *   χ² = (n_a·(r_a+r_b) − n·r_a)² / (n·r_a·r_b)
    * (substitute e_a = n·r_a/R into Σ(o−e)²/e; both cell terms share
    * the numerator d = n_a·R − n·r_a). All-integer numerator in
    * DECIMAL(38,0), one IEEE division; the flag compares against the
    * parsed-literal χ²₁(0.95) critical value 3.841458820694124.
    *
    * Scale: ONE map-side-combined aggregation to |groups| rows.
    * Output per group: (grp, n_a, n_b, chi2, srm). */
  def srmCheck(df: DataFrame, groupCol: String, armCol: String,
      ratioA: Long = 1L, ratioB: Long = 1L): DataFrame =
    srmFromCounts(
      df.groupBy(col(groupCol).as("grp"))
        .agg(sum(when(col(armCol) === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col(armCol) === 0, 0L).otherwise(1L)).as("n_b")),
      ratioA, ratioB)

  /** The χ² readout of [[srmCheck]] over an already-counted
    * (grp, n_a, n_b) relation — the arm counts are additive, so the
    * streaming maintainer keeps them current and reads through THIS
    * same step (`StreamingOps.srmStateRelease`). */
  def srmFromCounts(g: DataFrame, ratioA: Long = 1L,
      ratioB: Long = 1L): DataFrame = {
    val dec = DecimalType(38, 0)
    val n = (col("n_a") + col("n_b")).cast(dec)
    val d = (col("n_a").cast(dec) * lit(ratioA + ratioB).cast(dec) -
      n * lit(ratioA).cast(dec)).cast(dec)
    g.select(col("grp"), col("n_a"), col("n_b"),
      ((d * d).cast(dec).cast("double") /
        (n * lit(ratioA).cast(dec) * lit(ratioB).cast(dec))
          .cast(dec).cast("double")).as("chi2"))
      .withColumn("srm", col("chi2") > lit(3.841458820694124))
  }

  /** Multiclass classifier evaluation (the standard sheet: per-class
    * precision/recall/F1 plus overall accuracy and Gorodkin's
    * multiclass Matthews correlation R_K, Comput Biol Chem 2004 —
    * public; the one summary number that stays honest under class
    * imbalance, where accuracy lies). From the confusion counts
    * alone: with s total rows, corr = Σ tp, per-class predicted p_k
    * and true t_k counts,
    *   MCC = (corr·s − Σ p_k·t_k) /
    *         (√(s² − Σp_k²) · √(s² − Σt_k²))
    * — every operand an exact DECIMAL(38,0) integer product; the two
    * square roots stay SEPARATE (√a·√b ≠ √(a·b) in IEEE, and a·b
    * would also overflow 38 digits); a degenerate denominator (all
    * rows one class) pins NaN.
    *
    * Scale: ONE (true, pred) aggregation — the confusion relation is
    * k² rows whatever the corpus; everything after is k-row joins and
    * a singleton broadcast. */
  def classifierEval(df: DataFrame, trueCol: String,
      predCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    // the confusion relation feeds THREE aggregations and the k-row
    // joins — checkpoint the k² rows once so the (possibly expensive)
    // prediction expression scans the corpus exactly once
    val cm = df.where(col(trueCol).isNotNull && col(predCol).isNotNull)
      .groupBy(col(trueCol).as("t"), col(predCol).as("p"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val tCnt = cm.groupBy(col("t").as("cls")).agg(sum(col("n")).as("t_k"))
    val pCnt = cm.groupBy(col("p").as("cls")).agg(sum(col("n")).as("p_k"))
    val tpC = cm.where(col("t") === col("p"))
      .select(col("t").as("cls"), col("n").as("tp"))
    val per = tCnt.join(pCnt, Seq("cls"), "full_outer")
      .join(tpC, Seq("cls"), "left_outer")
      .select(col("cls"), coalesce(col("t_k"), lit(0L)).as("t_k"),
        coalesce(col("p_k"), lit(0L)).as("p_k"),
        coalesce(col("tp"), lit(0L)).as("tp"))
    val totals = per.agg(
      sum(col("tp")).as("corr"), sum(col("t_k")).as("s"),
      sum((col("p_k").cast(dec) * col("t_k").cast(dec)).cast(dec))
        .as("spt"),
      sum((col("p_k").cast(dec) * col("p_k").cast(dec)).cast(dec))
        .as("sp2"),
      sum((col("t_k").cast(dec) * col("t_k").cast(dec)).cast(dec))
        .as("st2"))
    val sD = col("s").cast(dec)
    val num = (col("corr").cast(dec) * sD - col("spt")).cast(dec)
    val dp = (sD * sD - col("sp2")).cast(dec)
    val dt = (sD * sD - col("st2")).cast(dec)
    val head = totals.select(
      (col("corr").cast("double") / col("s").cast("double"))
        .as("accuracy"),
      when(dp > lit(0L).cast(dec) && dt > lit(0L).cast(dec),
        num.cast("double") /
          (sqrt(dp.cast("double")) * sqrt(dt.cast("double"))))
        .otherwise(lit(Double.NaN)).as("mcc"))
    per.crossJoin(broadcast(head))
      .select(col("cls"), col("t_k"), col("p_k"), col("tp"),
        when(col("p_k") > 0L,
          col("tp").cast("double") / col("p_k").cast("double"))
          .otherwise(lit(Double.NaN)).as("precision"),
        when(col("t_k") > 0L,
          col("tp").cast("double") / col("t_k").cast("double"))
          .otherwise(lit(Double.NaN)).as("recall"),
        when(col("p_k") + col("t_k") > 0L,
          (lit(2L) * col("tp")).cast("double") /
            (col("p_k") + col("t_k")).cast("double"))
          .otherwise(lit(Double.NaN)).as("f1"),
        col("accuracy"), col("mcc"))
  }

  /** Kendall τ-b rank correlation between two daily series (Kendall
    * 1938; the τ-b tie correction — public): the fully-robust
    * companion of Pearson cross-correlation — depends only on pair
    * ORDERINGS, so one outlier day cannot move it. Both series
    * collapse to the shared calendar first, then every day pair
    * (i < j) is scored concordant/discordant/tied by exact integer
    * sign products:
    *   τ_b = (n_c − n_d) / (√(n₀ − T_x) · √(n₀ − T_y))
    * with n₀ the pair count and T the pairs tied in each series —
    * all exact integers; the roots stay separate (IEEE). Degenerate
    * (a constant series) pins NaN.
    *
    * Scale: the calendar-collapse law — the pair join is days²-
    * bounded whatever the event count (the Theil–Sen economics); ONE
    * aggregation scores all pairs. */
  def kendallTau(df: DataFrame, groupCol: String, tsCol: String,
      seriesA: String, seriesB: String): DataFrame = {
    val daily = df.where(col(groupCol).isin(seriesA, seriesB))
      .groupBy(to_date(col(tsCol)).as("day"))
      .agg(sum(when(col(groupCol) === seriesA, 1L).otherwise(0L))
        .as("x"),
        sum(when(col(groupCol) === seriesB, 1L).otherwise(0L))
          .as("y"))
    val pairs = daily.as("l").join(daily.as("r"),
        col("l.day") < col("r.day"))
      .select(
        (col("r.x") - col("l.x")).as("dx"),
        (col("r.y") - col("l.y")).as("dy"))
    val agg = pairs.agg(
      count(lit(1)).as("n0"),
      sum(when(col("dx") > 0 && col("dy") > 0, 1L)
        .when(col("dx") < 0 && col("dy") < 0, 1L)
        .otherwise(0L)).as("nc"),
      sum(when(col("dx") > 0 && col("dy") < 0, 1L)
        .when(col("dx") < 0 && col("dy") > 0, 1L)
        .otherwise(0L)).as("nd"),
      sum(when(col("dx") === 0, 1L).otherwise(0L)).as("tx"),
      sum(when(col("dy") === 0, 1L).otherwise(0L)).as("ty"))
    val days = daily.agg(count(lit(1)).as("n_days"))
    val a = (col("n0") - col("tx")).cast("double")
    val b = (col("n0") - col("ty")).cast("double")
    agg.crossJoin(broadcast(days))
      .select(col("n_days"), col("n0"), col("nc"), col("nd"),
        col("tx"), col("ty"),
        when(a > lit(0.0) && b > lit(0.0),
          (col("nc") - col("nd")).cast("double") /
            (sqrt(a) * sqrt(b)))
          .otherwise(lit(Double.NaN)).as("tau_b"))
  }

  /** Page–Hinkley drift monitor over the daily series (Page 1954;
    * Hinkley 1971 — public; the change-detection fold concept-drift
    * monitors run beside CUSUM): per group, with the daily totals x_t
    * and the RUNNING mean x̄_t (CUSUM tests against a FIXED reference
    * — PH's adaptive mean is what detects drift away from wherever
    * the series has been so far):
    *   m_T = Σ_{t≤T} (x_t − x̄_t − δ),   PH_T = max_{t≤T} m_t − m_T,
    *   alarm when PH_T > λ.
    * Determinism: x and its prefix sums are exact decimals; each
    * per-day term is one fixed IEEE tree (x − S_t/t − δ) QUANTIZED to
    * the 10⁻⁶ grid before the cumulative sum — a windowed DOUBLE sum
    * is association-ordered (segment trees vs running folds), the
    * quantized decimal sum is order-free; the running max is a
    * decimal max (order-free by definition).
    *
    * Scale: the calendar-collapse law — one aggregation to the daily
    * relation; all three windows run per group on calendar-bounded
    * rows. Output per (grp, day): x, m, ph, alarm. */
  def pageHinkley(df: DataFrame, groupCol: String, tsCol: String,
      valueCol: String, delta: Double = 0.0,
      lambda: Double = 500.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qdec = DecimalType(38, 6)
    val daily = df.groupBy(col(groupCol).as("grp"),
        to_date(col(tsCol)).as("day"))
      .agg(sum(col(valueCol).cast(DecimalType(18, 4))).as("x"))
    val w = Window.partitionBy(col("grp")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = daily
      .withColumn("t", count(lit(1)).over(w))
      .withColumn("s", sum(col("x")).over(w))
    val term = (col("x").cast("double") -
      col("s").cast("double") / col("t").cast("double") -
      lit(delta)).cast(qdec)
    val scored = cum.withColumn("term", term)
      .withColumn("m", sum(col("term")).over(w))
      .withColumn("m_max", max(col("m")).over(w))
    scored.select(col("grp"), col("day"),
      col("x").cast("double").as("x"),
      col("m").cast("double").as("m"),
      (col("m_max") - col("m")).cast("double").as("ph"),
      ((col("m_max") - col("m")).cast("double") > lit(lambda))
        .as("alarm"))
  }

  /** Quantile treatment effects (Doksum 1974; Koenker–Bassett 1978's
    * motivation — public): the per-quantile complement of the
    * mean-effect readouts — a treatment that helps the median user
    * but hurts the tail is INVISIBLE to Welch/CUPED means, and QTE is
    * the standard way experimentation platforms see it. Per group and
    * quantile q ∈ {.25, .5, .75}: the exact linearly-interpolated
    * order statistic per arm (the `percentile`/quantile_cont pair the
    * exact-quantile family already pins cross-engine) and the
    * difference qte_q = q_treat − q_control — one IEEE subtraction.
    *
    * Scale: one (grp, arm) exact-percentile aggregation (Spark's
    * ObjectHashAggregate over the value multiset — the same cost
    * class as the existing exact-quantile queries; swap in the KLL
    * sketch family when values-per-group outgrow memory), then a
    * k-row self-join. */
  def quantileTreatmentEffect(df: DataFrame, groupCol: String,
      armCol: String, valueCol: String): DataFrame = {
    val qs = Seq(25, 50, 75)
    val aggs = qs.map(q =>
      percentile(col(valueCol), lit(q / 100.0)).as(s"q$q"))
    val per = df.where(col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("grp"), col(armCol).as("arm"))
      .agg(aggs.head, aggs.tail: _*)
    val ctrl = per.where(col("arm") === 0)
      .select(col("grp") +: qs.map(q => col(s"q$q").as(s"q${q}_control")): _*)
    val treat = per.where(col("arm") === 1)
      .select(col("grp") +: qs.map(q => col(s"q$q").as(s"q${q}_treat")): _*)
    ctrl.join(broadcast(treat), Seq("grp"))
      .select(col("grp") +: qs.flatMap(q => Seq(
        col(s"q${q}_control"), col(s"q${q}_treat"),
        (col(s"q${q}_treat") - col(s"q${q}_control")).as(s"qte_$q"))): _*)
  }

  /** Weekly spectral strength: the single-frequency periodogram of
    * Schuster (1898 — public) evaluated at the one frequency ops
    * series actually care about, 1/7 — "how WEEKLY is this metric",
    * as the fraction of daily variance explained by the week-period
    * sinusoid pair. Complements the moving-average seasonal
    * decomposition with the spectral readout: with daily totals x_d,
    * phase k = d mod 7 and the quantized basis c_k = cos(2πk/7),
    * s_k = sin(2πk/7) (each a 12-dp DECIMAL literal — trig is the one
    * libm surface two engines may round differently, so the BASIS is
    * quantized once, the elementEntropy/Adamic–Adar grid recipe, and
    * every product x·c is then EXACT decimal arithmetic):
    *   C = Σx·c − (Σx/n)·Σc,   S = Σx·s − (Σx/n)·Σs
    *   ss_weekly = 2·(C² + S²)/n,   ss_total = Σx² − (Σx)²/n
    *   strength = ss_weekly / ss_total   (≈ the R² of the cos+sin
    *   regression; NaN-pinned for a constant series)
    * All sums EXACT DECIMAL(38,·); the C/S clearing and the ratio are
    * fixed IEEE trees.
    *
    * Scale: the calendar-collapse law — ONE aggregation to the
    * (grp, day) relation, ONE to k rows; nothing downstream grows
    * with events. */
  def weeklySpectrum(df: DataFrame, groupCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val cosD = Seq("1.000000000000", "0.623489801859",
      "-0.222520933956", "-0.900968867902", "-0.900968867902",
      "-0.222520933956", "0.623489801859")
    val sinD = Seq("0.000000000000", "0.781831482468",
      "0.974927912182", "0.433883739118", "-0.433883739118",
      "-0.974927912182", "-0.781831482468")
    val cdec = DecimalType(14, 12)
    def basis(vals: Seq[String]): Column =
      (1 until 7).foldLeft(
        when(col("k") === 0, lit(vals(0)).cast(cdec))) { (acc, k) =>
        acc.when(col("k") === k, lit(vals(k)).cast(cdec))
      }
    val daily = df.groupBy(col(groupCol).as("grp"),
        to_date(col(tsCol)).as("day"))
      .agg(sum(col(valueCol).cast(DecimalType(18, 4))).as("x"))
      .withColumn("k", pmod(unix_date(col("day")), lit(7)).cast("int"))
      .withColumn("c", basis(cosD))
      .withColumn("s", basis(sinD))
    // products land on the scale-6 grid BEFORE summation (HALF_UP
    // both engines via the VARCHAR-routed downcast on the oracle
    // side): sums at scale ≤ 6 stay inside the single-rounding
    // long/10^s fast path of the decimal→double cast — scale-16 sums
    // hit the BigDecimal double-rounding divergence (the emb_pca gram
    // lesson, reproduced here before this quantization)
    val g = daily.groupBy(col("grp")).agg(
      count(lit(1)).as("n_days"),
      sum(col("x")).as("sx"),
      sum((col("x") * col("x")).cast(DecimalType(38, 6))).as("sxx"),
      sum((col("x") * col("c")).cast(DecimalType(38, 6))).as("sxc"),
      sum((col("x") * col("s")).cast(DecimalType(38, 6))).as("sxs"),
      sum(col("c")).as("scs"),
      sum(col("s")).as("sss"))
    val nD = col("n_days").cast("double")
    val sxD = col("sx").cast("double")
    val cC = col("sxc").cast("double") - sxD / nD * col("scs").cast("double")
    val sS = col("sxs").cast("double") - sxD / nD * col("sss").cast("double")
    val ssW = lit(2.0) * (cC * cC + sS * sS) / nD
    val ssT = col("sxx").cast("double") - sxD * sxD / nD
    g.select(col("grp"), col("n_days"),
      cC.as("c_week"), sS.as("s_week"),
      ssW.as("ss_weekly"), ssT.as("ss_total"),
      when(ssT > lit(0.0), ssW / ssT).otherwise(lit(Double.NaN))
        .as("weekly_strength"))
  }

  /** Capture–recapture population estimate (Lincoln 1930 / Petersen;
    * Chapman 1951 correction — public): how many distinct units exist
    * in TOTAL, estimated from two overlapping observation windows —
    * the audience-size / true-dedup-population readout when neither
    * window saw everything. With n₁ units in window A, n₂ in B and m
    * in both:
    *   Lincoln–Petersen N̂ = n₁·n₂/m          (undefined at m = 0)
    *   Chapman N̂c = (n₁+1)(n₂+1)/(m+1) − 1   (finite always, less
    *                                           biased at small m)
    *   se(N̂c) = √[(n₁+1)(n₂+1)(n₁−m)(n₂−m) / ((m+1)²(m+2))]
    * All products exact DECIMAL(38,0); each estimate is one fixed
    * IEEE tree. m = 0 pins Lincoln to NaN (the MW degenerate
    * discipline); Chapman and its se stay finite.
    *
    * Scale: one (grp, unit) aggregation collapses multiplicity, one
    * per-group aggregation finishes — the unit relation is the only
    * shuffle, the corpus never moves twice. */
  def captureRecapture(df: DataFrame, groupCol: String,
      unitCol: String, inACol: String, inBCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val per = df.groupBy(col(groupCol).as("grp"),
        col(unitCol).as("unit"))
      .agg(max(col(inACol).cast("int")).as("ia"),
        max(col(inBCol).cast("int")).as("ib"))
    val g = per.groupBy(col("grp")).agg(
      sum(col("ia").cast("long")).as("n1"),
      sum(col("ib").cast("long")).as("n2"),
      sum((col("ia") * col("ib")).cast("long")).as("m"))
    val n1p = (col("n1").cast(dec) + lit(1L).cast(dec)).cast(dec)
    val n2p = (col("n2").cast(dec) + lit(1L).cast(dec)).cast(dec)
    val mp = (col("m").cast(dec) + lit(1L).cast(dec)).cast(dec)
    val lincoln = when(col("m") > 0L,
      (col("n1").cast(dec) * col("n2").cast(dec)).cast("double") /
        col("m").cast("double")).otherwise(lit(Double.NaN))
    val chapman = (n1p * n2p).cast("double") / mp.cast("double") -
      lit(1.0)
    val seNum = (n1p * n2p *
      (col("n1").cast(dec) - col("m").cast(dec)) *
      (col("n2").cast(dec) - col("m").cast(dec))).cast(dec)
    val seDen = (mp * mp *
      (col("m").cast(dec) + lit(2L).cast(dec))).cast(dec)
    g.select(col("grp"), col("n1"), col("n2"), col("m"),
      lincoln.as("lincoln"), chapman.as("chapman"),
      sqrt(seNum.cast("double") / seDen.cast("double")).as("se"))
  }

  /** Odds ratio + relative risk of a 2×2 outcome table per group,
    * with log-domain Wald 95% intervals (Woolf 1955; Katz 1978 —
    * public): the effect-size readout epidemiology and
    * experimentation share when "is it significant" (the z/χ² tests
    * above) needs a companion "how BIG is it". Cells are
    * Haldane–Anscombe corrected (+½ each — Anscombe 1956) via the
    * ×2+1 integer trick, so zero cells stay finite AND every ln
    * operand stays integer-valued: with A = 2a+1, B = 2b+1, C = 2c+1,
    * D = 2d+1 (a = successes arm 0, b = failures arm 0, c/d arm 1),
    *   OR = (A·D)/(B·C)            ln OR = lnG(A·D) − lnG(B·C)
    *   RR = (A·(C+D))/(C·(A+B))    ln RR = lnG(A·(C+D)) − lnG(C·(A+B))
    *   se(ln OR) = √(2/A + 2/B + 2/C + 2/D)   (1/(x+½) = 2/(2x+1))
    * The interval [ln OR ± 1.96·se] lives in LOG domain (exp is not
    * cross-engine); `significant` = the interval excludes 0. The ±½
    * correction biases OR slightly toward 1 — the standard trade for
    * a zero-cell-safe single code path (documented, deterministic).
    *
    * Scale: ONE map-side-combined aggregation to |groups| rows;
    * everything after is per-row arithmetic. */
  def oddsRatio(df: DataFrame, groupCol: String, armCol: String,
      successCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val arm0 = col(armCol) === 0
    val succ = col(successCol).cast("long") =!= 0L
    val g = df.groupBy(col(groupCol).as("grp"))
      .agg(sum(when(arm0 && succ, 1L).otherwise(0L)).as("a"),
        sum(when(arm0 && !succ, 1L).otherwise(0L)).as("b"),
        sum(when(!arm0 && succ, 1L).otherwise(0L)).as("c"),
        sum(when(!arm0 && !succ, 1L).otherwise(0L)).as("d"))
    def cc(c: Column): Column =
      (c.cast(dec) * lit(2L).cast(dec) + lit(1L).cast(dec)).cast(dec)
    val (ca, cb, ccc, cd) = (cc(col("a")), cc(col("b")),
      cc(col("c")), cc(col("d")))
    val orNum = (ca * cd).cast(dec)
    val orDen = (cb * ccc).cast(dec)
    val rrNum = (ca * (ccc + cd)).cast(dec)
    val rrDen = (ccc * (ca + cb)).cast(dec)
    val lnOr = (lnG(orNum) - lnG(orDen)).cast("double") / lit(1e12)
    val lnRr = (lnG(rrNum) - lnG(rrDen)).cast("double") / lit(1e12)
    val se = sqrt(lit(2.0) / ca.cast("double") +
      lit(2.0) / cb.cast("double") + lit(2.0) / ccc.cast("double") +
      lit(2.0) / cd.cast("double"))
    // z_{0.975} as a parsed literal (the BM25 constant discipline)
    val z = lit(1.959963984540054)
    val lnLo = lnOr - z * se
    val lnHi = lnOr + z * se
    g.select(col("grp"), col("a"), col("b"), col("c"), col("d"),
      (orNum.cast("double") / orDen.cast("double")).as("odds_ratio"),
      (rrNum.cast("double") / rrDen.cast("double")).as("risk_ratio"),
      lnOr.as("ln_or"), lnRr.as("ln_rr"), se.as("se_ln_or"),
      lnLo.as("ln_lo"), lnHi.as("ln_hi"),
      (lnLo > lit(0.0) || lnHi < lit(0.0)).as("significant"))
  }

  /** Cochran–Armitage trend test (Cochran 1954, Armitage 1955 —
    * public): is there a LINEAR trend in a binary rate across k
    * ORDERED categories (dose levels, days-of-week, cohort ages)?
    * Stronger than the omnibus χ² when the alternative is monotone —
    * the classic epidemiology/experimentation readout for "does the
    * rate climb with exposure". With integer scores w_i and per-
    * category (n_i, x_i):
    *   T' = N·Σw_i·x_i − X·Σw_i·n_i
    *   Var·N³-clearing: denom = X·(N−X)·(N·Σw_i²·n_i − (Σw_i·n_i)²)
    *   χ²(df=1) = T'²·N / denom
    * T' and denom are EXACT DECIMAL(38,0) integer cross products; the
    * square and the single division run in IEEE on the cast values
    * (keeping the 38-digit budget to first powers — bounds: counts to
    * ~10⁹ with scores to ~10² keep denom under 38 digits). A
    * degenerate pool (X = 0, X = N, or one category) has zero trend
    * variance and pins χ² to 0 — no evidence either way. The flag
    * compares against the parsed-literal χ²₁(0.95) = 3.841458820694124
    * (the SRM constant discipline); `direction` is the exact sign of
    * T' (+1 rate climbs with the score, −1 falls, 0 flat).
    *
    * Scale: ONE map-side-combined aggregation to the (grp, score)
    * cells, a second to k rows per group. Never the corpus. */
  def cochranArmitage(df: DataFrame, groupCol: String,
      scoreCol: String, successCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val cells = df
      .where(col(scoreCol).isNotNull && col(successCol).isNotNull)
      .groupBy(col(groupCol).as("grp"),
        col(scoreCol).cast("long").as("w"))
      .agg(count(lit(1)).as("n_i"),
        sum(col(successCol).cast("long")).as("x_i"))
    val wDec = col("w").cast(dec)
    val g = cells.groupBy(col("grp"))
      .agg(sum(col("n_i")).as("n"), sum(col("x_i")).as("x"),
        sum(wDec * col("x_i").cast(dec)).as("swx"),
        sum(wDec * col("n_i").cast(dec)).as("swn"),
        sum(wDec * wDec * col("n_i").cast(dec)).as("sw2n"))
    val nDec = col("n").cast(dec)
    val xDec = col("x").cast(dec)
    val tNum = (nDec * col("swx") - xDec * col("swn")).cast(dec)
    val denom = (xDec * (nDec - xDec) *
      (nDec * col("sw2n") - col("swn") * col("swn"))).cast(dec)
    val tD = col("t_num").cast("double")
    val chi2 = when(col("denom") === lit(0L).cast(dec), lit(0.0))
      .otherwise(tD * tD * col("n").cast("double") /
        col("denom").cast("double"))
    g.withColumn("t_num", tNum).withColumn("denom", denom)
      .select(col("grp"), col("n"), col("x"),
        chi2.as("chi2"),
        (chi2 > lit(3.841458820694124)).as("trend"),
        when(col("t_num") > lit(0L).cast(dec), lit(1))
          .when(col("t_num") < lit(0L).cast(dec), lit(-1))
          .otherwise(lit(0)).as("direction"))
  }

  /** Positive-part James–Stein shrinkage of per-group means toward the
    * grand mean (Stein 1961; Efron–Morris 1975 — public): the
    * empirical-Bayes estimator that dominates raw group means when
    * estimating ≥4 of them at once — small-sample groups borrow
    * strength from the ensemble, which is exactly the ranking problem
    * (rate a seller / shop / experiment arm with 10 observations
    * against one with 10 000) raw means get wrong. Per group:
    * shrunk_g = grand + c_g·(x̄_g − grand) with
    * c_g = max(0, 1 − (k−3)·(s²/n_g)/S), where s² is the pooled
    * within-group variance (the per-mean sampling variance is s²/n_g —
    * the unequal-n extension) and S = Σ_g (x̄_g − grand)².
    *
    * Determinism: values ride as exact integer cents; all sums are
    * exact (HUGEINT-class DECIMAL(38,0) for Σx and Σx², the scale-6
    * decimal quantization for the two order-sensitive double sums —
    * the [[anovaF]] recipe verbatim); everything after is one fixed
    * IEEE expression per group, replayed by the oracle. Scale: ONE
    * map-side-combined aggregation to |groups| rows, then singleton
    * broadcasts — the sufficient-statistics shape. Output per group:
    * (grp, n, mean, shrink, shrunk_mean). */
  def jamesSteinMeans(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val cents = (col(valueCol).cast(DecimalType(18, 2)) * lit(100))
      .cast("long")
    val g = df.where(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("grp"), cents.as("cv"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("ng"),
        sum(col("cv")).cast(dec).as("sg"),
        sum(col("cv").cast(DecimalType(19, 0)) *
          col("cv").cast(DecimalType(19, 0))).cast(dec).as("qg"))
    val withR = g.select(col("grp"), col("ng"), col("sg"), col("qg"),
      (col("sg").cast("double") * col("sg").cast("double") /
        col("ng").cast("double")).as("r"))
    val tot = withR.agg(count(lit(1)).as("k"),
      sum(col("ng")).as("n"), sum(col("sg")).as("stot"),
      sum(col("qg")).as("qtot"),
      sum(col("r").cast(DecimalType(38, 6))).cast("double").as("rtot"))
    val withTot = withR.crossJoin(broadcast(tot))
      .withColumn("grand",
        col("stot").cast("double") / col("n").cast("double"))
      .withColumn("mean_g",
        col("sg").cast("double") / col("ng").cast("double"))
      .withColumn("s2", (col("qtot").cast("double") - col("rtot")) /
        (col("n") - col("k")).cast("double"))
      .withColumn("dev", col("mean_g") - col("grand"))
    val ss = withTot
      .agg(sum((col("dev") * col("dev")).cast(DecimalType(38, 6)))
        .cast("double").as("ssb"))
    withTot.crossJoin(broadcast(ss))
      .withColumn("c_g", greatest(lit(0.0),
        lit(1.0) - (col("k") - 3).cast("double") *
          (col("s2") / col("ng").cast("double")) / col("ssb")))
      .select(col("grp"), col("ng").as("n"),
        (col("mean_g") / lit(100.0)).as("mean"),
        col("c_g").as("shrink"),
        ((col("grand") + col("c_g") * col("dev")) / lit(100.0))
          .as("shrunk_mean"))
  }

  /** Empirical-Bayes beta-binomial shrinkage of per-group RATES
    * (Efron–Morris 1975's batting-average construction — public): the
    * binary-outcome complement of [[jamesSteinMeans]]. A Beta(α, β)
    * prior is fitted to the observed group rates by method of moments
    * (m = mean, v = sample variance of the k rates; prior strength
    * s₀ = m(1−m)/v − 1, clamped at 0 when the rates are
    * underdispersed), and each group's posterior mean is
    * (α + x_g)/(α + β + n_g) = (m·s₀ + x_g)/(s₀ + n_g) — a 10-trial
    * group is pulled hard toward the ensemble, a 10⁶-trial group
    * barely moves. Counts are exact longs; the two cross-group moment
    * sums ride the dsum decimal pattern (k values, order-free);
    * everything after is one fixed IEEE expression per group. Scale:
    * one aggregation to |groups| rows + singleton broadcasts. Output:
    * (grp, n, x, rate, shrunk_rate). */
  def ebBetaRates(df: DataFrame, groupCol: String,
      successCol: String): DataFrame = {
    val dsumT = DecimalType(38, 18)
    val g = df.where(col(groupCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(col(successCol).cast("long")).cast("long").as("x"))
      .select(col(groupCol).as("grp"), col("n"), col("x"),
        (col("x").cast("double") / col("n").cast("double")).as("p"))
    val tot = g.agg(count(lit(1)).as("k"),
      sum(col("p").cast("string").cast(dsumT)).cast("double").as("sp"),
      sum((col("p") * col("p")).cast("string").cast(dsumT))
        .cast("double").as("spp"))
    g.crossJoin(broadcast(tot))
      .withColumn("m", col("sp") / col("k").cast("double"))
      .withColumn("v",
        (col("spp") - col("sp") * col("sp") / col("k").cast("double")) /
          (col("k") - 1).cast("double"))
      .withColumn("s0", coalesce(greatest(lit(0.0),
        col("m") * (lit(1.0) - col("m")) /
          nullif(col("v"), lit(0.0)) - lit(1.0)), lit(0.0)))
      .select(col("grp"), col("n"), col("x"), col("p").as("rate"),
        ((col("m") * col("s0") + col("x").cast("double")) /
          (col("s0") + col("n").cast("double"))).as("shrunk_rate"))
  }

  /** One row of the privacy ledger: a named release, the mechanism
    * that produced it, the ε it spent, and the salt naming the data
    * domain it spent against (releases on the same salt compose;
    * independent salts are independent budgets). */
  final case class PrivacyRelease(release: String, mechanism: String,
      epsilon: Double, salt: String)

  /** ε-budget accounting over a ledger relation
    * (release, mechanism, epsilon, salt[, …]) under BASIC composition
    * (Dwork–Roth 2014, Thm 3.16 — public): the total privacy loss of
    * a sequence of releases against the same data domain is at most
    * Σεᵢ. Emits the per-salt cumulative spend in release-name order
    * and an integer `within_budget` flag — the accounting VIEW; the
    * refusing gate is [[PrivacyAccountant]]. The window partitions by
    * salt and orders inside it: a ledger is metadata — O(#releases)
    * rows per salt, bounded by construction, never corpus-sized. */
  def privacyBudget(ledger: DataFrame, budget: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("salt")).orderBy(col("release"))
    ledger
      .withColumn("cum_epsilon", sum(col("epsilon")).over(w))
      .withColumn("within_budget",
        (col("cum_epsilon") <= lit(budget)).cast("int"))
  }

  /** The refusing side of the ε ledger: a driver-side accountant
    * (the ledger is release METADATA — a handful of rows, never
    * data-sized) that tracks per-salt cumulative spend under basic
    * composition and throws rather than letting a release exceed the
    * budget. The charge happens BEFORE the release is computed, so a
    * refused release never observes the data. The same "not a privacy
    * mechanism as shipped" caveat as [[dpNoisyCounts]] applies to the
    * releases it guards; the accounting itself is the real pattern. */
  final class PrivacyAccountant(val budget: Double) {
    require(budget > 0, "privacy budget must be positive")
    private val spentBySalt =
      scala.collection.mutable.Map.empty[String, Double]
    private val log =
      scala.collection.mutable.ListBuffer.empty[PrivacyRelease]

    def spent(salt: String): Double = synchronized {
      spentBySalt.getOrElse(salt, 0.0)
    }

    /** Record a release's spend or refuse it loudly. */
    def charge(r: PrivacyRelease): Unit = synchronized {
      require(r.epsilon > 0, s"release ${r.release} must spend ε > 0")
      val s = spentBySalt.getOrElse(r.salt, 0.0)
      if (s + r.epsilon > budget + 1e-12)
        throw new IllegalStateException(
          f"release '${r.release}' (ε=${r.epsilon}%.4f) would raise " +
            f"salt '${r.salt}' spend to ${s + r.epsilon}%.4f, over " +
            f"budget $budget%.4f — refused (basic composition)")
      spentBySalt(r.salt) = s + r.epsilon
      log += r
    }

    /** Charge-then-release count query: one geometric draw, ε=ln 2. */
    def noisyCounts(df: DataFrame, groupCol: String,
        salt: String = "dp"): DataFrame = {
      charge(PrivacyRelease(s"counts:$groupCol", "geometric",
        math.log(2.0), salt))
      dpNoisyCounts(df, groupCol, salt)
    }

    /** Charge-then-release mean query: two independent geometric
      * draws (numerator + denominator), ε = 2·ln 2. */
    def noisyMean(df: DataFrame, groupCol: String, valueCol: String,
        clip: Double = 100.0, salt: String = "dp"): DataFrame = {
      charge(PrivacyRelease(s"mean:$groupCol:$valueCol",
        "geometric_ratio", 2.0 * math.log(2.0), salt))
      dpNoisyMean(df, groupCol, valueCol, clip, salt)
    }

    /** The ledger as a relation, for [[privacyBudget]] accounting. */
    def ledger(spark: org.apache.spark.sql.SparkSession): DataFrame =
        synchronized {
      import spark.implicits._
      log.toSeq.toDF()
    }
  }
}
