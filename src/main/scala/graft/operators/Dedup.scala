package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions

/** Document deduplication family (SURVEY.md §2.3 #34-38).
  *
  * Exact dedup is a hash-groupBy. Near-dup is the standard
  * shingle → MinHash → LSH-band → bucket-join → exact-Jaccard-verify
  * pipeline, plus a 64-bit SimHash variant — all expressed as
  * declarative plans (signatures are per-row higher-order-function
  * expressions with no shuffle; only the band bucket join shuffles, on
  * the band hash). No cartesian products anywhere: candidate
  * generation is equi-join-shaped by construction, which is what makes
  * this run at 100 TB (pairs ~ bucket collisions, not n²).
  */
object Dedup {

  /** §2.3#34 — exact dedup groups: md5 of raw text, keeper = min id. */
  def exactGroups(df: DataFrame, textCol: Column, idCol: Column): DataFrame =
    df.groupBy(md5(textCol).as("h"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_copies"))

  /** §2.3#35 — exact dedup on the normalized form. */
  def exactNormalizedGroups(df: DataFrame, textCol: Column, idCol: Column): DataFrame =
    exactGroups(df.withColumn("__norm", TextFunctions.normalize(textCol)),
      col("__norm"), idCol)

  // ---- MinHash ----------------------------------------------------------
  // (The signature itself is computed inside minhashNearDups as grouped
  // min-aggregates over exploded shingle hashes — a per-row HOF-lambda
  // variant existed and measured ~10x slower, interpreted; it was
  // removed so no caller lands on the slow path.)

  /** LSH band hashes: signature split into `bands` rows of
    * `numPerm/bands`, each hashed with its band index. */
  def bandHashes(sigCol: Column, numPerm: Int, bands: Int): Column = {
    // bands must tile the signature exactly: a remainder silently drops
    // permutations, and bands > numPerm gives rowsPerBand = 0 — every
    // band hash constant — turning the band join into a full n² cross.
    require(bands >= 1 && bands <= numPerm && numPerm % bands == 0,
      s"bands ($bands) must divide numPerm ($numPerm)")
    val rowsPerBand = numPerm / bands
    array((0 until bands).map { j =>
      val slice = (0 until rowsPerBand).map(r => element_at(sigCol, j * rowsPerBand + r + 1))
      xxhash64((slice :+ lit(j.toLong)): _*)
    }: _*)
  }

  /** Per-doc MinHash state: shingle-hash witness set `hs` (for the
    * Jaccard verify) and the `numPerm`-long signature `sig`.
    * One exploded-shingle pass, one grouped agg computing the signature
    * mins AND the hash set together; everything downstream runs on the
    * long hashes (collision probability ~2^-64 — immaterial).
    *
    * `verifyK = 0` (default) keeps the FULL distinct hash set — the
    * exact-verify/oracle-parity form, O(doc shingles) state per doc
    * forever. `verifyK > 0` keeps only the k smallest hashes — a
    * bottom-k (KMV) sketch: O(k) state per doc, and the verify becomes
    * the unbiased bottom-k Jaccard estimator (std err ~ sqrt(J(1-J)/k);
    * at k=256 a true pair at J=0.9 is ~21 sigma from the 0.5 cut).
    * DedupSpec pins that even k=16 reproduces the exact near-dup
    * decisions on the test corpus (its pairs are at j≈0.99 against a
    * <0.2 background) at a fraction of the witness-state cells — size
    * k for YOUR corpus's margin to the threshold; k=256 is the
    * conservative production pick. States
    * joined in a cross verify must use the same `verifyK` (an exact
    * side mixed with a sketch side is also sound: a full set is its
    * own bottom-k for every k). */
  private[graft] def minhashState(df: DataFrame, idCol: String, textCol: String,
                                  numPerm: Int, verifyK: Int = 0): DataFrame = {
    val renamed = df.select(col(idCol).as("id"), col(textCol).as("__text"))
    val hashed = TextFunctions.shingleRows(renamed, Seq(col("id")), col("__text"))
      .select(col("id"), xxhash64(col("sh")).as("h"))
    minhashStateFromHashes(hashed, numPerm, verifyK)
  }

  /** The aggregation half of [[minhashState]], over pre-computed
    * shingle-hash rows (id, h) — for callers that already materialized
    * a shared shingle pass (TrainingPipeline's token frame). Duplicate
    * h rows per id are fine: collect_set dedups and min is idempotent.
    * The bottom-k cap (`verifyK`) bounds the STORED state; the agg
    * buffer still holds one doc's distinct hashes transiently (per-doc,
    * not per-partition — the same O(doc) envelope as the exact form). */
  private[operators] def minhashStateFromHashes(hashed: DataFrame,
                                                numPerm: Int,
                                                verifyK: Int = 0): DataFrame = {
    val minAggs = (0 until numPerm).map(i => min(hash(col("h"), lit(i))).as(s"__m$i"))
    val hs = if (verifyK <= 0) collect_set(col("h"))
      else slice(array_sort(collect_set(col("h"))), 1, verifyK)
    hashed.groupBy(col("id"))
      .agg(hs.as("hs"), minAggs: _*)
      .withColumn("sig", array((0 until numPerm).map(i => col(s"__m$i")): _*))
      .drop((0 until numPerm).map(i => s"__m$i"): _*)
  }

  /** Jaccard of two witness columns, matching how they were built:
    * exact set Jaccard for full sets (`verifyK = 0`), else the bottom-k
    * estimator — J ≈ |K ∩ S_A ∩ S_B| / |K| where K is the k smallest
    * of S_A ∪ S_B (the k-minimum-values coincidence estimator; exact
    * whenever |A ∪ B| <= k). */
  private[operators] def jaccardOf(hsA: Column, hsB: Column, verifyK: Int): Column =
    if (verifyK <= 0) {
      val inter = size(array_intersect(hsA, hsB))
      inter.cast(DoubleType) / (size(hsA) + size(hsB) - inter)
    } else {
      val bottom = slice(array_sort(array_union(hsA, hsB)), 1, verifyK)
      size(array_intersect(array_intersect(bottom, hsA), hsB)).cast(DoubleType) /
        size(bottom)
    }

  /** Deduped LSH candidate id pairs (id_a < id_b) from a `minhashState`
    * frame. The band join carries IDS ONLY — a doc's shingle-hash array
    * must never ride the shuffle once per band (that shape measured 7x
    * slower end-to-end and grows with `bands`); arrays are attached to
    * the deduped pairs afterwards by the caller. Exposed for DedupSpec's
    * candidate-volume assertions. */
  private[graft] def minhashCandidates(sh: DataFrame, numPerm: Int, bands: Int,
                                       salt: Int = 1): DataFrame = {
    require(salt >= 1, s"salt must be >= 1, got $salt")
    val banded = sh.select(col("id"),
      explode(bandHashes(col("sig"), numPerm, bands)).as("band"))
    // Band hashes are content-derived, so a heavily-duplicated shard of
    // the corpus piles one bucket onto one shuffle partition. salt > 1
    // spreads the hot bucket: the probe side takes a per-row salt, the
    // build side replicates each row across all salts — every colliding
    // pair still meets exactly once (at the probe row's salt), so the
    // result is row-identical to the unsalted join at |build| x salt
    // replication cost. AQE's skew split covers moderate skew; this is
    // the explicit control for adversarial corpora (see DedupSpec).
    val a = banded.select(col("band"), col("id").as("id_a"))
      .withColumn("__salt", pmod(xxhash64(col("id_a")), lit(salt.toLong)))
    val b = banded.select(col("band").as("band_b"), col("id").as("id_b"))
      .withColumn("__salt_b", explode(array((0 until salt).map(i => lit(i.toLong)): _*)))
    a.join(b, col("band") === col("band_b") && col("__salt") === col("__salt_b") &&
        col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** §2.3#36 — MinHash-LSH candidate pairs, verified with exact Jaccard
    * over the distinct shingle sets; keeps pairs with jaccard >= threshold.
    *
    * df must have an id column and a text column. Shuffles: one on the
    * band hash (ids only), then two equi-joins attaching each side's
    * shingle-hash set to the DEDUPED candidate pairs for the verify —
    * the same shape as the All-Pairs ngram join (`TextOps.ngramJaccardQ`):
    * arrays cross exactly one shuffle each, never once per band.
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      numPerm: Int = 32, bands: Int = 8,
                      threshold: Double = 0.5, salt: Int = 1,
                      verifyK: Int = 0): DataFrame = {
    // The state subplan feeds FOUR consumers (both band-join sides plus
    // the two hs-attach joins); Spark dedups common subplans only via
    // best-effort exchange reuse, and the executed plan showed the
    // shingle+min-agg pipeline running 3x. persist() pins it to exactly
    // one computation while keeping lineage (so a lost block recomputes
    // instead of failing the job — the right trade on preemptible
    // executors). The entry is CALL-LIFETIME: the CacheManager holds it
    // until the caller unpersists or clears the cache (Verify/Bench
    // clear between queries); a localCheckpoint would free with GC but
    // hide the shingle pipeline behind Scan ExistingRDD, blowing the
    // plan visibility PlanSpec pins and the columnar cache format.
    val sh = minhashState(df, idCol, textCol, numPerm, verifyK)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    minhashNearDupsFromState(sh, numPerm, bands, threshold, salt, verifyK)
  }

  /** [[minhashNearDups]] over a precomputed state frame (id, hs, sig) —
    * a [[signatureTable]] read back, or an in-flight [[minhashState]].
    * The state feeds four consumers; persist or materialize it first
    * (the table-read case is already materialized). */
  def minhashNearDupsFromState(sh: DataFrame,
                               numPerm: Int = 32, bands: Int = 8,
                               threshold: Double = 0.5, salt: Int = 1,
                               verifyK: Int = 0): DataFrame = {
    minhashCandidates(sh, numPerm, bands, salt)
      .join(sh.select(col("id").as("id_a"), col("hs").as("hs_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("hs").as("hs_b")), "id_b")
      .withColumn("jaccard", jaccardOf(col("hs_a"), col("hs_b"), verifyK))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Incremental-ingest near-dup: batch docs vs the standing corpus,
    * same LSH + exact-Jaccard verify as [[minhashNearDups]] but the
    * band join pairs ONLY batch x corpus — the corpus is never
    * re-paired against itself, which is what makes near-dedup
    * restart-free at ingest time: a daily shard's candidate volume is
    * O(|batch| x collisions) no matter how large the corpus grows. At
    * deployment scale the corpus half of `minhashState` (signatures +
    * shingle-hash sets) is a precomputed table maintained across
    * ingests; here it is recomputed, which only shifts where the
    * linear pass runs. Output: (batch_id, corpus_id, jaccard). */
  def minhashCrossNearDups(corpus: DataFrame, batch: DataFrame,
                           idCol: String, textCol: String,
                           numPerm: Int = 32, bands: Int = 8,
                           threshold: Double = 0.5, verifyK: Int = 0): DataFrame = {
    val cs = minhashState(corpus, idCol, textCol, numPerm, verifyK)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    minhashCrossFromState(cs, batch, idCol, textCol, numPerm, bands, threshold, verifyK)
  }

  /** Public builder for the maintained signature table: one row per
    * doc — (id, hs: shingle-hash witness set, sig: minhash signature).
    * Write this once per accepted batch (append) and feed it back via
    * [[minhashCrossFromState]]; numPerm AND verifyK must match at read
    * time (`verifyK > 0` bounds the table's per-doc state to k hashes —
    * see [[minhashState]]). */
  def signatureTable(df: DataFrame, idCol: String, textCol: String,
                     numPerm: Int = 32, verifyK: Int = 0): DataFrame =
    minhashState(df, idCol, textCol, numPerm, verifyK)

  /** The signature-table variant of [[minhashCrossNearDups]]:
    * `corpusState` is a previously computed [[minhashState]] frame
    * (id, hs, sig) — in deployment a parquet table maintained across
    * ingests (append each accepted batch's state rows; the linear
    * corpus pass then happens exactly once per document ever, and a
    * daily ingest touches corpus text zero times). */
  def minhashCrossFromState(corpusState: DataFrame, batch: DataFrame,
                            idCol: String, textCol: String,
                            numPerm: Int = 32, bands: Int = 8,
                            threshold: Double = 0.5, verifyK: Int = 0): DataFrame = {
    val bs = minhashState(batch, idCol, textCol, numPerm, verifyK)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    minhashCrossStates(corpusState, bs, numPerm, bands, threshold, verifyK)
  }

  /** Both sides as precomputed state frames — the shape an incremental
    * pipeline uses when the batch's [[minhashState]] also feeds its
    * within-batch dedup (compute once, persist, pass here). */
  def minhashCrossStates(corpusState: DataFrame, batchState: DataFrame,
                         numPerm: Int = 32, bands: Int = 8,
                         threshold: Double = 0.5, verifyK: Int = 0): DataFrame = {
    val bs = batchState
    def banded(sh: DataFrame, as: String) = sh.select(col("id").as(as),
      explode(bandHashes(col("sig"), numPerm, bands)).as(s"__band_$as"))
    val cands = banded(bs, "batch_id")
      .join(banded(corpusState, "corpus_id"),
        col("__band_batch_id") === col("__band_corpus_id"))
      .select(col("batch_id"), col("corpus_id"))
      .dropDuplicates("batch_id", "corpus_id")
    cands
      .join(bs.select(col("id").as("batch_id"), col("hs").as("hs_b")), "batch_id")
      .join(corpusState.select(col("id").as("corpus_id"), col("hs").as("hs_c")), "corpus_id")
      .withColumn("jaccard", jaccardOf(col("hs_b"), col("hs_c"), verifyK))
      .filter(col("jaccard") >= threshold)
      .select(col("batch_id"), col("corpus_id"), col("jaccard"))
  }

  // ---- Pair resolution --------------------------------------------------

  /** Resolve near-dup PAIRS into canonical GROUPS: connected components
    * (each doc's group id = the smallest doc id reachable through the
    * pair graph). This is the step that turns pairwise candidates into
    * "keep one per group" — without it a dup chain A~B~C dedups
    * inconsistently.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * O(log²n)-round scheme that handles long chains, where plain
    * min-label propagation needs diameter rounds. Edges are kept
    * canonical (hi → lo); each pass is one window-min shuffle plus a
    * distinct, no arrays and no joins, so a high-degree node never
    * materializes its neighborhood in memory.
    *
    * Exactly ONE action per iteration: the new edge set is lazily
    * checkpointed (plan truncation is mandatory here — each pass embeds
    * its input plan ~4x, so without it the logical plan grows 4^i and
    * the driver OOMs optimizing it around iteration 10) and a
    * (count, xxhash64-xor) fingerprint is aggregated by the same action
    * that materializes it. A star graph is a fixpoint of both passes,
    * so an unchanged fingerprint across one iteration means convergence
    * (false convergence would need a 64-bit hash-xor collision between
    * different edge multisets, ~2^-64 per check). Superseded iteration
    * blocks are reclaimed by the ContextCleaner once unreferenced.
    *
    * Throws `IllegalArgumentException` if 20 rounds pass without the
    * fingerprint stabilizing — fail-fast is deliberate (best-effort
    * labels would be silently WRONG group ids downstream); O(log² n)
    * rounds makes 20 ample, and the error names the budget. Convergence
    * is declared on an unchanged fingerprint of the COMPOSED
    * smallStar∘largeStar pass; the Kiveris proof is stated per-pass, so
    * a star-graph post-condition is re-checked explicitly before
    * returning (no node may appear on both sides of the final edge
    * set) rather than trusting composition-fixpoint = star.
    *
    * A graph that fits the driver ([[DriverGraph]]) skips the
    * distributed iteration: driver-side union-find labels it. The
    * common case is the DAILY-INGEST graph — near-dup pairs are
    * O(batch), thousands of edges, where each distributed round costs
    * a full plan+shuffle cycle. Labels are identical by construction
    * (union by MIN root preserves the component-min invariant);
    * PipelineOpsSpec pins both paths on the same graphs.
    * `smallGraphMax` caps the fast path's distinct edges; 0 forces the
    * distributed path. */
  def connectedComponents(pairs: DataFrame, idACol: String, idBCol: String,
                          smallGraphMax: Long = DriverGraph.NoCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val maxIter = 20

    val p0 = pairs.select(col(idACol).cast(LongType).as("x"),
        col(idBCol).cast(LongType).as("y"))
      .filter(col("x") =!= col("y"))
    // Under AQE the checkpoint call already runs the pair plan's query
    // stages (6 jobs in a traced `ingestBatch`); the budget's count
    // then materializes the checkpoint, which the first distributed
    // iteration needs anyway
    val edges0 = p0.select(greatest(col("x"), col("y")).as("hi"),
        least(col("x"), col("y")).as("lo"))
      .distinct().localCheckpoint(eager = false)
    val fast = DriverGraph.graph(edges0, nodeWords = 2, maxEdges = smallGraphMax)
    if (fast.isDefined) {
      // union-find, union by MIN root: the surviving root of every merge
      // is the smaller index, i.e. the smaller id, so find(x) = component
      // min — the label the distributed star fixpoint yields
      val g = fast.get
      val parent = Array.range(0, g.n)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x // path compression
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      g.src.indices.foreach { i =>
        val (ra, rb) = (find(g.src(i)), find(g.dst(i)))
        parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      return DriverGraph.frame(pairs.sparkSession,
        Seq("id" -> g.ids, "comp" -> Array.tabulate(g.n)(v => g.ids(find(v)))))
    }
    // every node of the input graph, for the final label join — derived
    // from the materialized edge set, NOT from `pairs`, so an expensive
    // upstream pair query (e.g. embedding near-dup) runs once
    val nodes = edges0.select(col("hi").as("id"))
      .union(edges0.select(col("lo").as("id"))).distinct()
    var edges = edges0

    /** Large-star: each node u connects its LARGER neighbors to
      * m = min(Γ(u) ∪ {u}). Small-star: each hi-end connects its
      * (all smaller) neighbors and itself to m = min(Γ(hi)). Both emit
      * canonical hi > lo edges by construction. */
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("hi").as("u"), col("lo").as("v"))
        .union(e.select(col("lo").as("u"), col("hi").as("v")))
      val m = least(min(col("v")).over(Window.partitionBy(col("u"))), col("u"))
      sym.select(col("u"), col("v"), m.as("m"))
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val m = min(col("lo")).over(Window.partitionBy(col("hi")))
      val withM = e.select(col("hi"), col("lo"), m.as("m"))
      withM.filter(col("lo") =!= col("m"))
        .select(col("lo").as("hi"), col("m").as("lo"))
        .union(withM.select(col("hi"), col("m").as("lo")))
        .distinct()
    }

    var i = 0
    var converged = false
    var prevStats: (Long, Long) = null
    while (!converged && i < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint(eager = false)
      // the ONE action: materializes the checkpoint and yields the
      // convergence fingerprint from the same job.
      // bit_xor, not sum: order-independent, and cannot overflow under
      // ANSI arithmetic (edge sets are distinct so nothing cancels)
      val row = next.agg(count(lit(1)), bit_xor(xxhash64(col("hi"), col("lo")))).first()
      val stats = (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
      edges = next
      converged = stats == prevStats
      prevStats = stats
      i += 1
    }
    require(converged,
      s"connectedComponents did not converge in $maxIter iterations " +
        s"(edge-set fingerprint still changing after iteration $i; " +
        "expected O(log^2 n) rounds)")
    // The convergence check above detects a fixpoint of the COMPOSED
    // pass; the correctness claim needs that fixpoint to be a STAR
    // (every non-root pointing directly at its component min). Verify
    // it cheaply on the final edge set (one edge per non-root node, so
    // O(nodes) worst case, not O(components)) instead of
    // assuming composition fixpoints are stars: in a star no node is
    // both a child (hi) and a root (lo).
    require(edges.select(col("hi")).intersect(edges.select(col("lo"))).isEmpty,
      "connectedComponents fingerprint converged on a non-star edge set " +
        "— labels would be wrong; this indicates a bug, please report")
    // fixpoint is a star graph: every non-root points straight at its
    // component min; roots and isolated nodes label themselves.
    // (The final edge set stays checkpointed — the returned plan reads
    // it lazily, so dropping it here would recompute the whole chain.)
    nodes.join(edges.select(col("hi").as("id"), col("lo").as("comp")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }

  // ---- SimHash ----------------------------------------------------------

  /** §2.3#38 — 64-bit SimHash of the token multiset: per bit position,
    * sign of the sum of ±1 votes from each token's 64-bit hash.
    *
    * The token hash is [[graft.plans.PolyHash64]] (byte polynomial +
    * splitmix64) rather than xxhash64 — bit-quality is equivalent for
    * voting, and the kernel is replayable in the DuckDB oracle's
    * HUGEINT arithmetic, which is what turns this query from rows-only
    * into hash-exact oracle-backed.
    *
    * Computed by explode + ONE native vote-vector aggregate
    * (`SimHashAgg`, a TypedImperativeAggregate over a long[64] buffer)
    * with map-side partial aggregation. Earlier formulations — 64
    * per-row `aggregate()` lambdas (interpreted, ~10x slower) and 64
    * separate SUM(CASE) columns (generated update method so large it
    * fell off the JIT cliff nondeterministically: 2.3s vs 9.8s across
    * rounds with unchanged code) — are both retired. One shuffle on
    * the doc id, 512-byte partial buffers, so it scales with corpus
    * size not token count. */
  def simhashDF(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
        explode(TextFunctions.tokens(TextFunctions.normalize(col(textCol)))).as("tok"))
      .withColumn("h", graft.plans.PolyHash64.poly_hash64(col("tok")))
    toks.groupBy(col("id"))
      .agg(graft.plans.SimHashAgg.simhash(col("h")).as("sim"))
  }

  /** SimHash near-dup pairs: bucket by 16-bit bands (4 bands → finds all
    * pairs with hamming distance <= 3), verify with bit_count(xor). */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3): DataFrame = {
    val sh = simhashDF(df, idCol, textCol)
    val banded = sh.withColumn("band",
      explode(array((0 until 4).map(j =>
        struct(lit(j).as("j"),
          shiftright(col("sim"), j * 16).bitwiseAND(0xffffL).as("v"))): _*)))
    val a = banded.select(col("band"), col("id").as("id_a"), col("sim").as("sim_a"))
    val b = banded.select(col("band").as("band_b"), col("id").as("id_b"), col("sim").as("sim_b"))
    a.join(b, col("band") === col("band_b") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
