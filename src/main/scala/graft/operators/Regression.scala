package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Multivariate linear regression via one-pass normal equations
  * (SURVEY.md §2 row 167) — the closed-form fit pipelines use to
  * calibrate quality scores and fit data-mixing/scaling-law curves:
  * β = (XᵀX + λI)⁻¹ Xᵀy. Row 147's per-group trend is the k=2
  * special case; this is the general small-k form.
  *
  * The decomposition that makes it scale: XᵀX and Xᵀy are SUFFICIENT
  * STATISTICS — k(k+1)/2 + k sums of per-row integer products — so
  * the corpus contributes ONE aggregation pass (no gradient loop, no
  * per-iteration scans, no shuffle beyond the single global agg's
  * partial-merge), and the k×k solve happens on the k²-bounded driver
  * model (the Lloyd-partials posture; k is feature count, never
  * corpus-sized). Products accumulate in DECIMAL(38,0): integer
  * features at 100 TB (x ~ 1e5, x² ~ 1e10, × 1e12 rows ~ 1e22) wrap
  * a long but fit 38 digits; the emitted entries cast back to BIGINT
  * under the documented |G_ij| < 2^63 contract (pre-scale features
  * if heavier).
  *
  * Exactness: the statistics are pure integer sums — DuckDB replays
  * them verbatim (the oracle-backed surface). The SOLVE is driver-side
  * double Gaussian elimination — deterministic but floating-point, so
  * it is spec-verified (exact-recovery + shrinkage pins), not
  * oracle-hashed: the engine/oracle boundary is the sufficient
  * statistics, the same contract as k-means (assignment projection
  * oracle-exact, centroid doubles spec-pinned).
  */
object Regression {

  /** The packed sufficient statistics: one row per (i, j) with
    * 0 <= i <= j < k for G = Σ x xᵀ (upper triangle — G is symmetric)
    * plus j = k rows for b_i = Σ x_i·y. Feature expressions must be
    * integer-valued; NULLs count as 0 (presence discipline: a NULL
    * feature is a zero contribution, not a dropped row). */
  def normalEquations(df: DataFrame, features: Seq[Column], target: Column): DataFrame = {
    require(features.nonEmpty, "at least one feature required")
    val k = features.size
    val xs = features.zipWithIndex.map { case (f, i) =>
      coalesce(f.cast(LongType), lit(0L)).as(s"__x$i")
    }
    val y = coalesce(target.cast(LongType), lit(0L)).as("__y")
    val proj = df.select(xs :+ y: _*)
    val entries =
      (for { i <- 0 until k; j <- i until k } yield (i, j,
        sum(expr(s"CAST(__x$i AS DECIMAL(38,0)) * __x$j")))) ++
      (0 until k).map(i => (i, k,
        sum(expr(s"CAST(__x$i AS DECIMAL(38,0)) * __y"))))
    val agg = proj.agg(entries.head._3.as("__s0"),
      entries.tail.zipWithIndex.map { case ((_, _, c), n) => c.as(s"__s${n + 1}") }: _*)
    // unpivot the 1-row aggregate into (i, j, g) rows — a k²-bounded
    // literal stack, not a shuffle
    val stackExpr = entries.zipWithIndex
      .map { case ((i, j, _), n) => s"${i}L, ${j}L, CAST(__s$n AS BIGINT)" }
      .mkString(s"stack(${entries.size}, ", ", ", ") AS (i, j, g)")
    agg.select(expr(stackExpr))
  }

  /** Driver-side ridge solve from collected statistics: Gaussian
    * elimination with partial pivoting on (G + λ·n·I)β = b, where the
    * λ scaling by n = G(0,0) (when feature 0 is the intercept's 1)
    * makes the shrinkage strength corpus-size-invariant. */
  def solve(gram: Map[(Int, Int), Long], k: Int, lambda: Double): Array[Double] = {
    val n = gram.getOrElse((0, 0), 1L).toDouble.max(1.0)
    val a = Array.tabulate(k, k + 1) { (i, j) =>
      if (j == k) gram.getOrElse((i, k), 0L).toDouble
      else {
        val base = gram.getOrElse((math.min(i, j), math.max(i, j)), 0L).toDouble
        if (i == j) base + lambda * n else base
      }
    }
    for (c <- 0 until k) {
      val p = (c until k).maxBy(r => math.abs(a(r)(c)))
      val t = a(c); a(c) = a(p); a(p) = t
      require(math.abs(a(c)(c)) > 1e-12, s"singular system at column $c")
      for (r <- 0 until k if r != c) {
        val f = a(r)(c) / a(c)(c)
        for (j <- c to k) a(r)(j) -= f * a(c)(j)
      }
    }
    Array.tabulate(k)(i => a(i)(k) / a(i)(i))
  }

  /** One-call fit: aggregate the statistics (one distributed pass),
    * collect the k²-bounded model, solve on the driver. */
  def fitRidge(df: DataFrame, features: Seq[Column], target: Column,
               lambda: Double = 0.0): Array[Double] = {
    val k = features.size
    val g = normalEquations(df, features, target)
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r.getLong(2))
      .toMap
    solve(g, k, lambda)
  }

  /** §2 row 167 — sufficient statistics for predicting n_chars from
    * [1, token count, digit count, whitespace count] over `documents`. */
  def normalEqQ(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d)
    normalEquations(doc,
      Seq(lit(1L),
        size(expr("regexp_extract_all(text, '[A-Za-z0-9]+', 0)")).cast(LongType),
        (length(col("text")) - length(regexp_replace(col("text"), "[0-9]", ""))).cast(LongType),
        (length(col("text")) - length(regexp_replace(col("text"), "\\s", ""))).cast(LongType)),
      col("n_chars"))
      .orderBy(col("i"), col("j"))
  }

  /** Spearman rank correlation, exact rational form (SURVEY.md §2 row
    * 204) — the monotone-association companion to Pearson (row 152's
    * corr matrix): Pearson sees only LINEAR association and one heavy
    * outlier owns it; Spearman on ranks is what data-audit monotonicity
    * checks ("does quality score rise with length?") actually want.
    * Permutation-rank variant: ranks are distinct by the (value, id)
    * total order — the id tiebreak makes them a pure function of data
    * (with heavy ties this deviates from the midrank variant; the
    * contract is documented, determinism is what the gate buys). Then
    * ρ = 1 − 6Σd²/(n(n²−1)), emitted as the exact integer pair
    * (rho_num, rho_den) = (n(n²−1) − 6Σd², n(n²−1)) plus ONE pinned
    * division (NULL at n < 2 — the kappa posture). Rows with NULL in
    * either column are excluded.
    *
    * Scale shape (100 TB): NOT a global single-partition rank window.
    * rank(row) = cumBefore(value) + intra-tie index: the cumulative
    * frame is the distinct-VALUE count frame (value-bounded window),
    * the intra-tie ROW_NUMBER partitions BY value (bounded by the
    * largest tie group), and the per-row work is two equi-joins
    * against value-bounded frames. Σd² < 2^63 needs n ≲ 2e6 ranks
    * apart at worst — n³ < 2^63 ⇒ n < 2.1e6 — documented; beyond
    * that, correlate on a stratified sample or pre-bucketed values. */
  def spearman(df: DataFrame, xCol: Column, yCol: Column, idCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.filter(xCol.isNotNull && yCol.isNotNull)
      .select(idCol.as("id"), xCol.as("x"), yCol.as("y"))
    def ranked(c: String, out: String) = {
      val counts = base.groupBy(col(c).as("v")).agg(count(lit(1)).as("cnt"))
        .withColumn("before", coalesce(sum(col("cnt")).over(
          Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .select(col("v"), col("before"))
      base.join(counts, base(c) === counts("v"))
        .withColumn(out, col("before") + row_number().over(
          Window.partitionBy(col(c)).orderBy(col("id"))).cast(LongType))
        .select(col("id"), col(out))
    }
    ranked("x", "rx").join(ranked("y", "ry"), Seq("id"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum((col("rx") - col("ry")) * (col("rx") - col("ry"))), lit(0L))
          .as("sum_d2"))
      .select(col("n"), col("sum_d2"),
        (col("n") * (col("n") * col("n") - 1L) - lit(6L) * col("sum_d2")).as("rho_num"),
        (col("n") * (col("n") * col("n") - 1L)).as("rho_den"),
        when(col("n") < 2L, lit(null)).otherwise(
          (col("n") * (col("n") * col("n") - 1L) - lit(6L) * col("sum_d2"))
            .cast(DoubleType) /
            (col("n") * (col("n") * col("n") - 1L)).cast(DoubleType))
          .as("rho"))
  }

  /** §2 row 204 — monotone association between document length and
    * token count. */
  def spearmanQ(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d)
    spearman(doc, col("n_chars"),
      size(expr("regexp_extract_all(text, '[A-Za-z0-9]+', 0)")).cast(LongType),
      col("doc_id"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic (SURVEY.md §2 row 271) —
    * the distribution-shift detector next to row 204 (Spearman asks
    * "do two COLUMNS co-move?"; KS asks "did one column's DISTRIBUTION
    * change between two slices?" — the canonical drift test between a
    * reference and a candidate corpus, or two sources' quality
    * scores). D = max_v |F_A(v) − F_B(v)| carried as the EXACT integer
    * pair d_num = max_v |n_B·C_A(v) − n_A·C_B(v)|, d_den = n_A·n_B
    * (both ECDFs over a common denominator), plus d_at = the SMALLEST
    * value attaining the max (deterministic argmax) and the single
    * pinned display double.
    *
    * Scale shape (the rocAuc recipe): values collapse first into one
    * map-side-combined (value → count_A, count_B) frame bounded by
    * |distinct values|; the inclusive cumulative rides the row-194
    * bucketed decomposition ([[Classify.withScoreBucket]] — per-cell
    * prefix over the ≤64-row cut frame is the only unpartitioned
    * window), totals and the max come back as 1-row broadcasts.
    * OVERFLOW CONTRACT: n_A·n_B < 2^63 (the AUC posture — subsample a
    * slice first beyond ~3e9 rows a side). */
  def ksTest(df: DataFrame, valueCol: Column, groupCol: Column,
             groupA: String, groupB: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byV = df.filter(groupCol.isin(groupA, groupB) && valueCol.isNotNull)
      .groupBy(valueCol.as("s"))
      .agg(coalesce(sum(when(groupCol === groupA, 1L)), lit(0L)).as("ca"),
        coalesce(sum(when(groupCol === groupB, 1L)), lit(0L)).as("cb"))
    val withB = Classify.withScoreBucket(byV)
    val bpre = withB.groupBy(col("__b"))
      .agg(sum(col("ca")).as("__sa"), sum(col("cb")).as("__sb"))
      .withColumn("__pa", coalesce(sum(col("__sa")).over(
        Window.orderBy(col("__b")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("__pb", coalesce(sum(col("__sb")).over(
        Window.orderBy(col("__b")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .drop("__sa", "__sb")
    // INCLUSIVE within-cell prefix: F(v) counts values <= v
    val wj = Window.partitionBy(col("__b")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = byV.agg(coalesce(sum(col("ca")), lit(0L)).as("na"),
      coalesce(sum(col("cb")), lit(0L)).as("nb"))
    val scored = withB.join(broadcast(bpre), Seq("__b"))
      .withColumn("cuma", col("__pa") + sum(col("ca")).over(wj))
      .withColumn("cumb", col("__pb") + sum(col("cb")).over(wj))
      .crossJoin(broadcast(tot)) // 1-row totals
      .withColumn("dnum", abs(col("nb") * col("cuma") - col("na") * col("cumb")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mx = scored.agg(max(col("dnum")).as("m"))
    scored.crossJoin(broadcast(mx)) // 1-row max
      .filter(col("dnum") === col("m"))
      .agg(first(col("na")).as("n_a"), first(col("nb")).as("n_b"),
        first(col("m")).as("d_num"), min(col("s")).as("d_at"))
      .select(col("n_a"), col("n_b"), col("d_num"),
        (col("n_a") * col("n_b")).as("d_den"), col("d_at"),
        when(col("n_a") === 0L || col("n_b") === 0L, lit(null))
          .otherwise(col("d_num").cast(DoubleType) /
            (col("n_a") * col("n_b")).cast(DoubleType)).as("ks_d"))
  }

  /** §2 row 271 — KS drift between the click and error event-value
    * distributions. */
  def ksTestQ(s: SparkSession, d: String): DataFrame =
    ksTest(Tables.events(s, d), col("value"), col("event_type"),
      "click", "error")

  /** Mann-Whitney U (Wilcoxon rank-sum) two-sample test (SURVEY.md §2
    * row 284) — the rank companion of [[ksTest]]: KS asks "do the
    * distributions differ anywhere", MWU asks "does one sample
    * stochastically dominate" — the standard pair for drift gates over
    * ordinal scores where a mean shift matters more than shape.
    *
    * Exact integer image: 2·U_A = 2·#(a>b pairs) + #(ties), computed
    * WITHOUT pair enumeration from the (value → count_A, count_B)
    * frame — #(a>b) = Σ_v ca(v)·cumB(<v), ties = Σ_v ca(v)·cb(v) —
    * so the cost is |distinct values|, not n·m. The normal
    * approximation's z (tie-corrected) is emitted rounded to 6
    * decimals; its integer ingredients (u2_a, u2_b, tie_cubes =
    * Σ(t³−t)) ride along exact so the oracle replays them bit-for-bit.
    *
    * Scale shape = the ksTest recipe: one map-side-combined value
    * collapse, the row-194 bucketed prefix (no unpartitioned window
    * over distinct values), 1-row broadcasts for the totals. OVERFLOW
    * CONTRACT: n_A·n_B < 2^62 and per-value tie count t < ~2.1e6
    * (t³ < 2^63); subsample a slice first beyond that. */
  def mannWhitneyU(df: DataFrame, valueCol: Column, groupCol: Column,
                   groupA: String, groupB: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byV = df.filter(groupCol.isin(groupA, groupB) && valueCol.isNotNull)
      .groupBy(valueCol.as("s"))
      .agg(coalesce(sum(when(groupCol === groupA, 1L)), lit(0L)).as("ca"),
        coalesce(sum(when(groupCol === groupB, 1L)), lit(0L)).as("cb"))
    val withB = Classify.withScoreBucket(byV)
    val bpre = withB.groupBy(col("__b"))
      .agg(sum(col("cb")).as("__sb"))
      .withColumn("__pb", coalesce(sum(col("__sb")).over(
        Window.orderBy(col("__b")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .drop("__sb")
    // EXCLUSIVE within-cell prefix: cumB(< v)
    val wj = Window.partitionBy(col("__b")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val parts = withB.join(broadcast(bpre), Seq("__b"))
      .withColumn("cumb", col("__pb") + coalesce(sum(col("cb")).over(wj), lit(0L)))
      .agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
        sum(col("ca") * col("cumb")).as("gt"),
        sum(col("ca") * col("cb")).as("ties"),
        sum((col("ca") + col("cb")) * (col("ca") + col("cb")) *
          (col("ca") + col("cb")) - (col("ca") + col("cb"))).as("tie_cubes"))
    val n = col("n_a") + col("n_b")
    val varD = col("n_a").cast(DoubleType) * col("n_b").cast(DoubleType) / 12.0 *
      ((n + 1L).cast(DoubleType) -
        col("tie_cubes").cast(DoubleType) / (n * (n - 1L)).cast(DoubleType))
    parts.select(col("n_a"), col("n_b"),
        (col("gt") * 2L + col("ties")).as("u2_a"),
        (col("n_a") * col("n_b") * 2L - col("gt") * 2L - col("ties")).as("u2_b"),
        col("tie_cubes"))
      .withColumn("z", when(col("n_a") === 0L || col("n_b") === 0L ||
          (col("n_a") + col("n_b")) < 2L || varD <= 0.0, lit(null))
        .otherwise(round(
          (col("u2_a") - col("n_a") * col("n_b")).cast(DoubleType) /
            (sqrt(varD) * 2.0), 6)))
  }

  /** §2 row 284 — MWU shift test on the same click-vs-error pair as
    * q_ks_test (the two gates a drift monitor runs together). */
  def mwuQ(s: SparkSession, d: String): DataFrame =
    mannWhitneyU(Tables.events(s, d), col("value"), col("event_type"),
      "click", "error")

  /** Quantized Poisson(1) inverse CDF in ppm — the pinned resampling
    * weight function of [[poissonBootstrapCi]]. Exact ppm floors of
    * the true CDF (computed from the alternating e⁻¹ series at 50
    * digits); a uniform draw u ∈ [0, 1e6) maps to the first k with
    * u < cdf(k), else 9. The ≤ 1e-6 truncation/quantization bias is
    * immaterial statistically and IRRELEVANT for parity — the weight
    * function is a pinned integer contract both engines replay
    * bit-identically. */
  private[graft] val BootCdfPpm: Seq[Long] = Seq(
    367879L, 735758L, 919698L, 981011L, 996340L,
    999405L, 999916L, 999989L, 999998L)

  /** §2 row 303 — Poisson bootstrap confidence intervals (Chamandy et
    * al. 2012, the one-pass bootstrap web-scale systems actually run):
    * classic resampling needs B full passes with coordinated
    * multinomial counts; the Poisson approximation gives each row an
    * INDEPENDENT Poisson(1) weight per replicate, so all B replicates
    * ride ONE scan — here a deterministic weight from
    * PolyHash64("boot|" + replicate + "|" + row key), making the whole
    * estimator a pure function of the data (replayable, and identical
    * under any partitioning; no RNG state to coordinate across 1000
    * executors).
    *
    * Exact image: values in exact cents, replicate sums/counts BIGINT;
    * doubles appear exactly twice — each replicate's mean and the
    * point mean — with one fixed op order (the §5 rule). The CI is an
    * ORDER STATISTIC of the B replicate means (pinned 1-based ranks),
    * not a normal approximation: correct for skewed metrics, and
    * integer-deterministic to sort.
    *
    * Scale shape: the ×B fan-out is a map-side explode (no shuffle
    * until the (group, replicate) aggregate, which partial-aggregates);
    * per-group state downstream is B doubles. B and the ranks are the
    * caller's coverage/cost dial. */
  def poissonBootstrapCi(df: DataFrame, groupCol: Column, keyCol: Column,
                         valueCol: Column, b: Int = 40,
                         loRank: Int = 2, hiRank: Int = 39): DataFrame = {
    require(b >= 2 && b <= 1000, s"replicates must be in [2,1000], got $b")
    require(loRank >= 1 && hiRank <= b && loRank <= hiRank,
      s"ranks must satisfy 1 <= lo <= hi <= $b, got ($loRank, $hiRank)")
    // spread by key before the B-way replicate explode: the per-(row,
    // replicate) PolyHash64 weight draw is B× the input volume and is
    // the operator's map-heavy half — it must not serialize on a
    // narrow scan layout (a single-row-group parquet file is ONE
    // task); the pre-explode row shuffle is 1/B of the frame it
    // parallelizes
    // checkpointed: TWO consumers (the ×B replicate chain and the
    // point-mean aggregate at the bottom) — unpinned, each re-scans
    // the source and re-pays the key spread (guide §5). A checkpoint,
    // not a persist, so no CacheManager entry outlives the caller's
    // action; lazy, so only the key spread's map stage runs at call
    // time (AQE plans the checkpoint's input).
    val rows = df.filter(valueCol.isNotNull)
      .select(groupCol.as("g"), keyCol.as("k"),
        floor(valueCol * 100.0 + 0.5).cast(LongType).as("cents"))
      .repartition(col("k"))
      .localCheckpoint(eager = false)
    val u = pmod(graft.plans.PolyHash64.poly_hash64(
      concat(lit("boot|"), col("b").cast(StringType),
        lit("|"), col("k").cast(StringType))), lit(1000000L))
    val weight = BootCdfPpm.zipWithIndex.foldRight(
      lit(BootCdfPpm.size.toLong): Column) { case ((t, k), acc) =>
      when(u < t, lit(k.toLong)).otherwise(acc)
    }
    val rep = rows
      .withColumn("b", explode(sequence(lit(0), lit(b - 1))))
      .withColumn("w", weight)
      .groupBy(col("g"), col("b"))
      .agg(sum(col("w") * col("cents")).as("rs"), sum(col("w")).as("rn"))
      .filter(col("rn") > 0L) // P(empty replicate) = e^-n: guarded anyway
      .withColumn("mean_c", col("rs").cast(DoubleType) / col("rn").cast(DoubleType))
    val ci = rep.groupBy(col("g"))
      .agg(sort_array(collect_list(col("mean_c"))).as("__ms"),
        count(lit(1)).as("n_replicates"))
      .select(col("g"),
        when(col("n_replicates") >= loRank,
          element_at(col("__ms"), loRank)).as("ci_lo_cents"),
        when(col("n_replicates") >= hiRank,
          element_at(col("__ms"), hiRank)).as("ci_hi_cents"),
        col("n_replicates"))
    rows.groupBy(col("g"))
      .agg((sum(col("cents")).cast(DoubleType) /
        count(lit(1)).cast(DoubleType)).as("point_mean_cents"))
      .join(ci, Seq("g"))
      .select(col("g"), col("point_mean_cents"), col("ci_lo_cents"),
        col("ci_hi_cents"), col("n_replicates"))
  }

  /** §2 row 303 registered query — per-event-type mean value CIs at
    * B = 40 with the (2, 39) rank pair (~95% coverage). */
  def bootstrapQ(s: SparkSession, d: String): DataFrame =
    poissonBootstrapCi(Tables.events(s, d), col("event_type"),
        col("event_id"), col("value"))
      .withColumnRenamed("g", "event_type")
      .orderBy(col("event_type"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_normal_eq" -> (normalEqQ _),
    "q_spearman"  -> (spearmanQ _),
    "q_ks_test"   -> (ksTestQ _),
    "q_mwu"       -> (mwuQ _),
    "q_bootstrap" -> (bootstrapQ _),
  )

  val oracles: Map[String, String] = Map(
    // Poisson bootstrap replay: the same pinned ppm ladder over the
    // shared PolyHash64 fragment, BIGINT replicate sums, the two
    // doubles in the same op order, list order statistics at the
    // pinned ranks
    "q_bootstrap" -> {
      val ladder = BootCdfPpm.zipWithIndex
        .map { case (t, k) => s"WHEN u < $t THEN $k" }
        .mkString(" ")
      s"""WITH f AS (
         |  SELECT event_type AS g, event_id AS k,
         |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
         |  FROM events WHERE value IS NOT NULL),
         |reps AS (
         |  SELECT g, k, cents, CAST(b AS BIGINT) AS b
         |  FROM f CROSS JOIN (SELECT unnest(range(0, 40)) AS b) bb),
         |hs AS (${TrainingOps.polyHashOverSql("g, cents, b",
              "SELECT g, cents, b, 'boot|' || CAST(b AS VARCHAR) || '|' || CAST(k AS VARCHAR) AS t FROM reps")}),
         |wts AS (
         |  SELECT g, b, cents,
         |    CAST(CASE $ladder ELSE ${BootCdfPpm.size} END AS BIGINT) AS w
         |  FROM (SELECT g, b, cents,
         |          ((h % 1000000) + 1000000) % 1000000 AS u FROM hs) uu),
         |rep AS (
         |  SELECT g, b, SUM(w * cents) AS rs, SUM(w) AS rn
         |  FROM wts GROUP BY 1, 2 HAVING SUM(w) > 0),
         |ms AS (
         |  SELECT g,
         |    list_sort(list(CAST(rs AS DOUBLE) / CAST(rn AS DOUBLE))) AS l,
         |    COUNT(*) AS n_replicates
         |  FROM rep GROUP BY 1),
         |pt AS (
         |  SELECT g, CAST(SUM(cents) AS DOUBLE) / COUNT(*) AS point_mean_cents
         |  FROM f GROUP BY 1)
         |SELECT pt.g AS event_type, point_mean_cents,
         |  CASE WHEN n_replicates >= 2 THEN l[2] END AS ci_lo_cents,
         |  CASE WHEN n_replicates >= 39 THEN l[39] END AS ci_hi_cents,
         |  n_replicates
         |FROM pt JOIN ms ON ms.g = pt.g
         |ORDER BY event_type""".stripMargin
    },

    // the oracle's single global cumulative window equals the engine's
    // bucketed decomposition exactly (integer sums reassociate); the
    // argmax ties break to MIN(s) on both sides
    "q_ks_test" ->
      """WITH f AS (
        |  SELECT value AS s, event_type AS g FROM events
        |  WHERE event_type IN ('click', 'error') AND value IS NOT NULL),
        |byv AS (
        |  SELECT s,
        |    SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS ca,
        |    SUM(CASE WHEN g = 'error' THEN 1 ELSE 0 END) AS cb
        |  FROM f GROUP BY s),
        |cums AS (
        |  SELECT s,
        |    SUM(ca) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
        |    SUM(cb) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
        |  FROM byv),
        |tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM byv),
        |scored AS (
        |  SELECT c.s, abs(t.nb * c.cuma - t.na * c.cumb) AS dnum
        |  FROM cums c, tot t),
        |mx AS (SELECT MAX(dnum) AS m FROM scored)
        |SELECT CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b,
        |  CAST(m.m AS BIGINT) AS d_num,
        |  CAST(t.na * t.nb AS BIGINT) AS d_den,
        |  (SELECT MIN(s) FROM scored, mx WHERE dnum = m) AS d_at,
        |  CASE WHEN t.na = 0 OR t.nb = 0 THEN NULL
        |       ELSE CAST(m.m AS DOUBLE) / CAST(t.na * t.nb AS DOUBLE) END AS ks_d
        |FROM tot t, mx m""".stripMargin,

    // the pair counts from the value-collapse identity (no pair
    // enumeration); integer ingredients exact, z in the IDENTICAL
    // double op order as the engine, rounded at 6 (the q_trend rule)
    "q_mwu" ->
      """WITH f AS (
        |  SELECT value AS s, event_type AS g FROM events
        |  WHERE event_type IN ('click', 'error') AND value IS NOT NULL),
        |byv AS (
        |  SELECT s,
        |    SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS ca,
        |    SUM(CASE WHEN g = 'error' THEN 1 ELSE 0 END) AS cb
        |  FROM f GROUP BY s),
        |cums AS (
        |  SELECT s, ca, cb,
        |    COALESCE(SUM(cb) OVER (ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
        |  FROM byv),
        |agg AS (
        |  SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b,
        |    CAST(SUM(ca * cumb) AS BIGINT) AS gt,
        |    CAST(SUM(ca * cb) AS BIGINT) AS ties,
        |    CAST(SUM((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb)) AS BIGINT)
        |      AS tie_cubes
        |  FROM cums),
        |u AS (
        |  SELECT n_a, n_b, gt * 2 + ties AS u2_a,
        |    n_a * n_b * 2 - gt * 2 - ties AS u2_b, tie_cubes,
        |    n_a + n_b AS nn
        |  FROM agg),
        |v AS (
        |  SELECT *, CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *
        |    (CAST(nn + 1 AS DOUBLE) -
        |      CAST(tie_cubes AS DOUBLE) / CAST(nn * (nn - 1) AS DOUBLE)) AS vard
        |  FROM u)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(u2_a AS BIGINT) AS u2_a, CAST(u2_b AS BIGINT) AS u2_b,
        |  CAST(tie_cubes AS BIGINT) AS tie_cubes,
        |  CASE WHEN n_a = 0 OR n_b = 0 OR nn < 2 OR vard <= 0 THEN NULL
        |       ELSE ROUND(CAST(u2_a - n_a * n_b AS DOUBLE) / (sqrt(vard) * 2.0), 6)
        |  END AS z
        |FROM v""".stripMargin,

    // the same (value, id) permutation ranks — ROW_NUMBER() OVER
    // (ORDER BY v, id) equals cumBefore + intra-tie index exactly —
    // then the rational rho identity; HUGEINT → BIGINT; NULL at n<2
    "q_spearman" ->
      """WITH base AS (
        |  SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS x,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+', 0)) AS BIGINT) AS y
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND text IS NOT NULL),
        |rk AS (
        |  SELECT id,
        |    CAST(ROW_NUMBER() OVER (ORDER BY x, id) AS BIGINT) AS rx,
        |    CAST(ROW_NUMBER() OVER (ORDER BY y, id) AS BIGINT) AS ry
        |  FROM base),
        |agg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(COALESCE(SUM((rx - ry) * (rx - ry)), 0) AS BIGINT) AS sum_d2
        |  FROM rk)
        |SELECT n, sum_d2,
        |  CAST(n * (n * n - 1) - 6 * sum_d2 AS BIGINT) AS rho_num,
        |  CAST(n * (n * n - 1) AS BIGINT) AS rho_den,
        |  CASE WHEN n < 2 THEN NULL
        |       ELSE CAST(n * (n * n - 1) - 6 * sum_d2 AS DOUBLE)
        |            / CAST(n * (n * n - 1) AS DOUBLE) END AS rho
        |FROM agg""".stripMargin,

    // the same integer products summed in HUGEINT, unpivoted by a
    // UNION ALL of the k(k+1)/2 + k single-row aggregates
    "q_normal_eq" -> {
      val feats = Seq(
        "1",
        "len(regexp_extract_all(text, '[A-Za-z0-9]+', 0))",
        "length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))",
        "length(text) - length(regexp_replace(text, '\\s', '', 'g'))")
      val k = feats.size
      val fcols = feats.zipWithIndex
        .map { case (f, i) => s"CAST(COALESCE($f, 0) AS HUGEINT) AS x$i" }
        .mkString(", ")
      val rows =
        (for { i <- 0 until k; j <- i until k } yield
          s"SELECT CAST($i AS BIGINT) AS i, CAST($j AS BIGINT) AS j, CAST(SUM(x$i * x$j) AS BIGINT) AS g FROM f") ++
        (0 until k).map(i =>
          s"SELECT CAST($i AS BIGINT) AS i, CAST($k AS BIGINT) AS j, CAST(SUM(x$i * y) AS BIGINT) AS g FROM f")
      s"""WITH f AS (
         |  SELECT $fcols, CAST(COALESCE(n_chars, 0) AS HUGEINT) AS y
         |  FROM documents)
         |${rows.mkString("\n", "\nUNION ALL\n", "\n")}
         |ORDER BY i, j""".stripMargin
    },
  )
}
