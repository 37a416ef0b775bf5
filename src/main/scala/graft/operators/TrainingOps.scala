package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.functions.TextFunctions
import graft.plans.PolyHash64
import graft.sources.Tables

/** SURVEY.md §2.5 — training-data pipeline operators: deterministic
  * split assignment, test-set decontamination, and token-budget
  * sequence packing. These are the steps between "curated corpus" and
  * "training shards" that the curation/dedup family doesn't cover.
  *
  * All three are pure plan transformations (no UDFs, no driver loops):
  * the split is a replayable hash expression, decontamination is an
  * ids-only equi-join on rare long-shingle hashes, and packing is a
  * per-group window cumsum — each shape survives a 100x scale-up
  * because nothing ever materializes per-pair or per-corpus state.
  */
object TrainingOps {

  // ---- Deterministic split ----------------------------------------------

  /** Assign every row a stable train/val/test split from a replayable
    * hash of its id — the standard "hash mod 100" scheme, so membership
    * is a pure function of the id: re-runs, backfills and late-arriving
    * shards all agree without coordination or stored state.
    *
    * [[graft.plans.PolyHash64]] rather than xxhash64 so the DuckDB
    * oracle replays the exact assignment in HUGEINT (the
    * q_dedup_simhash proof pattern). The "split|" domain prefix keeps
    * this hash stream independent of any other use of the same ids. */
  def splitBucket(idCol: Column, prefix: String = "split|"): Column =
    pmod(PolyHash64.poly_hash64(concat(lit(prefix), idCol.cast(StringType))), lit(100L))

  /** bucket → split-name mapping, shared by every split assigner (the
    * doc-level [[assignSplit]] and the cluster-keyed
    * [[TextOps.clusterSplit]]) so the thresholds cannot drift. */
  private[operators] def splitOf(bucket: Column,
                                 trainPct: Int = 80, valPct: Int = 10): Column =
    when(bucket < trainPct, "train")
      .when(bucket < trainPct + valPct, "val")
      .otherwise("test")

  def assignSplit(df: DataFrame, idCol: Column,
                  trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      s"split percentages must leave room for test: train=$trainPct val=$valPct")
    df.withColumn("bucket", splitBucket(idCol))
      .withColumn("split", splitOf(col("bucket"), trainPct, valPct))
  }

  /** §2.5 — per-doc split assignment over `documents`. */
  def splitAssignQ(s: SparkSession, d: String): DataFrame =
    assignSplit(Tables.documents(s, d), col("doc_id"))
      .select(col("doc_id"), col("bucket"), col("split"))
      .orderBy(col("doc_id"))

  /** Deterministic k-fold assignment (SURVEY.md §2.10) — the
    * cross-validation complement of [[assignSplit]]: fold =
    * `pmod(hash("fold|" + id), k)`, so fold-i's train set is "every
    * row whose fold ≠ i" with no stored state, no coordination, and
    * exact reproducibility across re-runs and backfills. A pure
    * per-row projection (zero exchanges); the "fold|" domain prefix
    * keeps the fold stream independent of the split/sample/order hash
    * streams over the same ids. */
  def assignFolds(df: DataFrame, idCol: Column, k: Int): DataFrame = {
    require(k >= 2, s"k-fold needs k >= 2, got $k")
    df.withColumn("fold",
      pmod(PolyHash64.poly_hash64(concat(lit("fold|"), idCol.cast(StringType))),
        lit(k.toLong)))
  }

  /** §2.10 — 5-fold assignment over `documents`. */
  def kfoldQ(s: SparkSession, d: String): DataFrame =
    assignFolds(Tables.documents(s, d), col("doc_id"), 5)
      .select(col("doc_id"), col("fold"))

  /** Grouped k-fold (SURVEY.md §2 row 296) — the contamination-aware
    * variant of [[assignFolds]]: the fold is a pure function of the
    * GROUP (domain, author, dedup component), so near-duplicate or
    * same-provenance rows can never straddle a train/validation cut —
    * plain row-level k-fold leaks whenever sibling rows correlate
    * (sklearn's GroupKFold, here with zero coordination: no group
    * enumeration, no stored state, exact reproducibility). Same
    * per-row projection shape; the "gfold|" domain prefix keeps the
    * stream independent of the id-keyed fold/split/tier streams. */
  def assignGroupFolds(df: DataFrame, groupCol: Column, k: Int): DataFrame = {
    require(k >= 2, s"group k-fold needs k >= 2, got $k")
    df.withColumn("fold",
      pmod(PolyHash64.poly_hash64(
        concat(lit("gfold|"), groupCol.cast(StringType))), lit(k.toLong)))
  }

  /** §2 row 296 — 5 folds keyed by source: all of a source's docs
    * share a fold. */
  def groupKfoldQ(s: SparkSession, d: String): DataFrame =
    assignGroupFolds(Tables.documents(s, d), col("source"), 5)
      .select(col("doc_id"), col("source"), col("fold"))
      .orderBy(col("doc_id"))

  /** Nested ablation tiers (SURVEY.md §2 row 171) — the subset ladder
    * scaling-law and data-ablation experiments need: a 1% / 10% /
    * 100% corpus where every smaller tier is a STRICT SUBSET of every
    * larger one (so "more data" runs differ only by addition, never
    * by resampling). Nesting is free from the hash-threshold scheme:
    * with residue r = pmod(hash("tier|" + id), 1e6), subset_p =
    * {r < p} is monotone in p by construction — no coordination, no
    * stored state, and a doc's tier is the FIRST threshold (ppm,
    * ascending) that admits it. Thresholds are parts-per-million
    * longs, all-integer; docs past the last threshold get tier −1
    * (excluded even from the full ablation — supported, though the
    * common ladder ends at 1e6 = everything). Pure per-row projection,
    * zero exchanges; the "tier|" prefix keeps this stream independent
    * of split/fold/sample/order streams over the same ids. */
  def nestedTiers(df: DataFrame, idCol: Column, ppm: Seq[Long]): DataFrame = {
    require(ppm.nonEmpty && ppm == ppm.sorted && ppm.distinct == ppm,
      s"thresholds must be strictly increasing, got $ppm")
    require(ppm.head > 0 && ppm.last <= 1000000L,
      s"thresholds are parts-per-million in (0, 1e6], got $ppm")
    val r = pmod(PolyHash64.poly_hash64(
      concat(lit("tier|"), idCol.cast(StringType))), lit(1000000L))
    val tier = ppm.zipWithIndex.reverse.foldLeft(lit(-1L)) {
      case (acc, (p, i)) => when(r < p, i.toLong).otherwise(acc)
    }
    df.withColumn("tier", tier)
  }

  /** §2 row 171 — the 1% / 10% / 100% ladder over `documents`. */
  def ablationTiersQ(s: SparkSession, d: String): DataFrame =
    nestedTiers(Tables.documents(s, d), col("doc_id"),
        Seq(10000L, 100000L, 1000000L))
      .select(col("doc_id"), col("tier"))
      .orderBy(col("doc_id"))

  // ---- Decontamination ---------------------------------------------------

  /** Train/test leakage check: every (train doc, test doc) pair sharing
    * at least `minShared` distinct word `n`-gram shingles. Long
    * shingles (default 8) are the point — at n=8 a shared shingle is
    * near-certain verbatim overlap and its document frequency is ~1, so
    * the shingle-hash equi-join stays linear in corpus size instead of
    * fanning out on common phrases (the df lesson from ngramJaccard).
    * IDS ONLY through the join; counts aggregate before anything wide
    * is touched. */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    n: Int = 8, minShared: Long = 3,
                    trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val withSplit = assignSplit(docs.select(col(idCol).as("id"), col(textCol).as("__text")),
      col("id"), trainPct, valPct)
    val sh = TextFunctions.shingleRows(withSplit, Seq(col("id"), col("split")), col("__text"), n = n)
      .select(col("id"), col("split"), xxhash64(col("sh")).as("h"))
      .distinct()
    val train = sh.filter(col("split") === "train")
      .select(col("id").as("train_id"), col("h"))
    val test = sh.filter(col("split") === "test")
      .select(col("id").as("test_id"), col("h"))
    train.join(test, "h")
      .groupBy(col("train_id"), col("test_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** §2.5 — contaminated train/test pairs over `documents`. minShared=1
    * with 8-gram shingles: a single shared 8-gram is already a strong
    * verbatim-leak signal, and the corpus's planted near-dup pairs only
    * straddle the train/test cut occasionally, so the stricter default
    * would often emit zero rows at small SF. */
  def decontaminateQ(s: SparkSession, d: String): DataFrame =
    decontaminate(Tables.documents(s, d), "doc_id", "text", minShared = 1)
      .orderBy(col("train_id"), col("test_id"))

  // ---- Sequence packing ----------------------------------------------------

  /** Token-budget packing: assign each document (in deterministic
    * id order within a pack group) to a fixed-capacity bin by the
    * exclusive running token count — bin = floor(cumsum_before /
    * capacity). One window per group, fully codegen'd, replayable in
    * ANSI SQL; a bin overflows `capacity` by at most one document, the
    * price of staying a pure window expression. Groups pack
    * independently, so the shape is one sort-shuffle on the group key
    * regardless of corpus size. For strict never-overflow bins see
    * [[packGreedy]]. */
  def packBinned(df: DataFrame, grpCol: Column, idCol: Column,
                 tokensCol: Column, capacity: Long): DataFrame = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    val w = Window.partitionBy(grpCol).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("__cum", coalesce(sum(tokensCol).over(w), lit(0L)))
      // integer floor division, not floor(double): a group's cumsum
      // past 2^53 would round in double space and shift bins
      .withColumn("bin", expr(s"__cum div ${capacity}L"))
      .drop("__cum")
  }

  /** [[packBinned]] without the per-group window — bit-identical bins
    * via the distributed prefix-sum recipe, for when single groups
    * (train×en is most of a corpus) are too large for one window task:
    * range-partition on (group, id) so each task holds a contiguous
    * slice of the pack order; per-(slice, group) token totals collapse
    * to a bounded frame (partitions × groups short rows — the one
    * documented driver collect, same bounded-model posture as the CC
    * fast path); broadcast the exclusive slice offsets back; one
    * O(1)-state pass per slice then computes each doc's global
    * exclusive cumsum as offset + local prefix, and
    * `bin = cum div capacity` exactly as the window form. Adds `bin`,
    * preserves all input columns. */
  def packBinnedRanged(df: DataFrame, grpCol: Column, idCol: Column,
                       tokensCol: Column, capacity: Long,
                       partitions: Int = 0): DataFrame = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    val spark = df.sparkSession
    val p = if (partitions > 0) partitions
            else spark.sessionState.conf.numShufflePartitions
    // the group key travels as its JSON image so the offset map needs
    // no group-type-specific encoder (structs, NULLs all round-trip)
    val sorted = df
      .withColumn("__gk", to_json(struct(grpCol.as("g"))))
      .withColumn("__tk", coalesce(tokensCol.cast(LongType), lit(0L)))
      .repartitionByRange(p, grpCol, idCol)
      .sortWithinPartitions(grpCol, idCol)
      .withColumn("__pid", spark_partition_id())
      // localCheckpoint, not persist: the slice-stats job and the
      // offset pass below MUST see the same physical partitioning (the
      // range partitioner samples), and checkpoint blocks free with GC
      // when the caller drops the frame — a persist here would pin a
      // corpus-sized cache entry per call for the session's lifetime
      // (the semanticGroups lesson). Not lazy: under AQE the call runs
      // the range sample and every stage below it (14-15 jobs per
      // packing in a traced `ingestBatch`).
      .localCheckpoint(false)
    val slices = sorted.groupBy(col("__pid"), col("__gk"))
      .agg(sum(col("__tk")).as("__s"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    val offsets: Map[(Int, String), Long] = slices.groupBy(_._2).iterator.flatMap {
      case (gk, arr) =>
        var acc = 0L
        arr.sortBy(_._1).map { case (pid, _, s) =>
          val entry = (pid, gk) -> acc; acc += s; entry
        }
    }.toMap
    val bOff = spark.sparkContext.broadcast(offsets)
    val outSchema = sorted.schema.add("bin", LongType)
    val gkIdx = sorted.schema.fieldIndex("__gk")
    val tkIdx = sorted.schema.fieldIndex("__tk")
    val pidIdx = sorted.schema.fieldIndex("__pid")
    val packed = sorted.mapPartitions { it =>
      var curG: String = null
      var cum = 0L
      it.map { row =>
        val gk = row.getString(gkIdx)
        if (gk != curG) {
          curG = gk
          cum = bOff.value.getOrElse((row.getInt(pidIdx), gk), 0L)
        }
        val bin = cum / capacity // exclusive prefix, same as the window form
        cum += row.getLong(tkIdx)
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ bin)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
    packed.drop("__gk", "__tk", "__pid")
  }

  /** Strict first-fit-in-order packing: scan each group in id order,
    * open a new bin whenever adding the document would exceed
    * `capacity` (a document larger than `capacity` gets a bin of its
    * own). The running remainder is genuine sequential state, so this
    * is the library's one deliberate imperative path: repartition by
    * group, sort within partitions, one O(1)-state pass per partition —
    * the mapPartitions analog of a session window. Bins never overflow
    * (single oversized docs excepted), at the cost of leaving the
    * declarative plan world; prefer [[packBinned]] when a one-doc
    * overflow is acceptable. */
  def packGreedy(df: DataFrame, grpCol: String, idCol: String,
                 tokensCol: String, capacity: Long): DataFrame = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    val in = df.select(col(grpCol).cast(StringType).as("grp"),
      col(idCol).cast(LongType).as("id"), col(tokensCol).cast(LongType).as("n_tokens"))
    val spark = df.sparkSession
    import spark.implicits._
    val packed = in.as[(String, Long, Long)]
      .repartition(col("grp"))
      .sortWithinPartitions(col("grp"), col("id"))
      .mapPartitions(TrainingOps.packScan(_, capacity))
    packed.toDF("grp", "id", "n_tokens", "bin")
      .select(col("grp").as(grpCol), col("id").as(idCol),
        col("n_tokens").as(tokensCol), col("bin"))
  }

  /** The pure first-fit-in-order kernel behind [[packGreedy]]: rows
    * MUST arrive sorted by (grp, id); O(1) state. Exposed for the
    * property tests (PropertySpec) — the invariants must hold for any
    * input, not just the corpus. */
  private[graft] def packScan(rows: Iterator[(String, Long, Long)],
                              capacity: Long): Iterator[(String, Long, Long, Long)] = {
    var grp: String = null
    var bin = -1L
    var used = 0L
    rows.map { case (g, id, toks) =>
      if (g != grp) { grp = g; bin = -1L; used = 0L }
      if (bin < 0 || used + toks > capacity) { bin += 1; used = 0L }
      used += toks
      (g, id, toks, bin)
    }
  }

  /** §2.5 — packed-bin manifest over `documents`: language-grouped,
    * 2048-token bins, one row per bin with its document and token
    * payload. */
  def packSequencesQ(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("lang"), col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"))
    packBinned(docs, col("lang"), col("doc_id"), col("n_tokens"), capacity = 2048L)
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens_in_bin"))
      .orderBy(col("lang"), col("bin"))
  }

  // ---- Global deterministic shuffle order ---------------------------------

  /** Training-order assignment: a deterministic global permutation
    * position (0..n-1) for every doc — "epoch shuffling" as a pure
    * function of the id set, so shard writers can lay the corpus out
    * in a shuffled order that any re-run, backfill or resumed job
    * reproduces without coordination. Position = rank in
    * (hash, id) order under a domain-salted replayable hash.
    *
    * The naive form — `row_number() OVER (ORDER BY h)` — funnels the
    * entire corpus through ONE task (an unpartitioned window). This
    * runs the bucket decomposition instead (the [[graft.operators
    * .CorpusOps.budgetPrefixFilter]] trick applied to ranking): the
    * hash order is cut into 2^bucketBits range buckets; per-bucket
    * COUNTS collapse in one map-side-combined aggregation; the
    * exclusive bucket-prefix count is a window over that bounded cut
    * frame (2^bucketBits short rows — the only unpartitioned window,
    * and it never sees the corpus); each doc's position is its
    * bucket's prefix count plus its within-bucket row_number
    * (partitioned by bucket, so the residual sort is 2^bucketBits×
    * smaller than the global sort it replaces). Bit-identical to the
    * single-window rank: ranks within a bucket are contiguous because
    * the bucket is a contiguous hash range. */
  def globalShuffleOrder(docs: DataFrame, idCol: Column,
                         salt: String = "order|",
                         bucketBits: Int = 12): DataFrame =
    // the global rank is the grouped rank over one group — same engine,
    // one code path (the constant group key costs nothing: the cut
    // frame stays 2^bucketBits rows and every doc-frame window still
    // partitions by the hash bucket)
    groupedShuffleOrder(docs.select(idCol.as("id")), lit(0L), col("id"),
        salt, bucketBits)
      .select(col("id"), col("pos"))

  /** Per-GROUP variant of [[globalShuffleOrder]]: adds `pos` = each
    * row's 0-based rank in (hash, id) order WITHIN its group, all
    * other columns preserved. Same bucket decomposition, with the cut
    * frame keyed (group, bucket) and the prefix window partitioned by
    * group over that bounded frame — no group ever sorts in one task. */
  def groupedShuffleOrder(docs: DataFrame, grpCol: Column, idCol: Column,
                          salt: String = "order|",
                          bucketBits: Int = 12): DataFrame = {
    require(bucketBits >= 1 && bucketBits <= 20,
      s"bucketBits must be in [1, 20], got $bucketBits")
    val aug = docs
      .withColumn("__h", PolyHash64.poly_hash64(
        concat(lit(salt), idCol.cast(StringType))))
      .withColumn("__g", grpCol)
      .withColumn("__b", shiftright(col("__h"), 64 - bucketBits))
    val cuts = aug.groupBy(col("__g").as("__cg"), col("__b").as("__cb"))
      .agg(count(lit(1)).as("__c"))
    val wb = Window.partitionBy(col("__cg")).orderBy(col("__cb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = cuts.withColumn("__pre", coalesce(sum(col("__c")).over(wb), lit(0L)))
    val wj = Window.partitionBy(col("__g"), col("__b")).orderBy(col("__h"), idCol)
    aug.join(cum, col("__g") <=> col("__cg") && col("__b") === col("__cb"))
      .withColumn("pos", col("__pre") + row_number().over(wj) - lit(1L))
      .drop("__h", "__g", "__b", "__cg", "__cb", "__c", "__pre")
  }

  /** Deterministic weighted interleave of corpora — the data-MIXING
    * order: reading the output sorted by (slot, corpus, id) yields
    * each corpus at a frequency ∝ its weight in every long-enough
    * prefix, reproducibly (the training loader's "sample corpus c
    * with probability w_c" as a pure function of the id set, no RNG
    * state to checkpoint). Classic weighted-fair-queueing virtual
    * time: doc k (0-based, hash order within its corpus via
    * [[groupedShuffleOrder]]) lands at `slot = ((k+1) · 2^20) div w`
    * — corpora with twice the weight fire twice as often. All
    * integer; `(k+1) · 2^20` holds corpora to ~2^43 docs before Long
    * overflow (document-scale safe). Adds (pos, slot); weight must
    * be positive (raises otherwise). */
  def interleaveOrder(docs: DataFrame, corpusCol: Column, idCol: Column,
                      weightCol: Column, salt: String = "ileave|",
                      bucketBits: Int = 12): DataFrame = {
    val w = weightCol.cast(LongType)
    groupedShuffleOrder(docs, corpusCol, idCol, salt, bucketBits)
      .withColumn("__w", when(w > 0, w).otherwise(raise_error(concat(
        lit("interleaveOrder: weight must be positive, got "),
        coalesce(w.cast(StringType), lit("NULL"))))))
      .withColumn("slot", expr(s"((pos + 1) * ${1L << 20}L) div __w"))
      .drop("__w")
  }

  /** §2.5 — weighted interleave over `documents`: corpus = source,
    * weight = a deterministic 1..3 cycle off the source number. */
  def interleaveOrderQ(s: SparkSession, d: String): DataFrame =
    interleaveOrder(
        Tables.documents(s, d).select(col("source"), col("doc_id")),
        col("source"), col("doc_id"),
        substring(col("source"), 4, 10).cast(IntegerType) % 3 + 1)
      .select(col("source"), col("doc_id"), col("pos"), col("slot"))
      .orderBy(col("source"), col("doc_id"))

  /** §2.5 — the training-order permutation over `documents`. */
  def shuffleOrderQ(s: SparkSession, d: String): DataFrame =
    globalShuffleOrder(Tables.documents(s, d), col("doc_id"))
      .select(col("id").as("doc_id"), col("pos"))
      .orderBy(col("doc_id"))

  /** §2 row 112 — corpus vocabulary: the top-`v` tokens by (count
    * desc, token) as (token, tid) with tid = 1-based frequency rank;
    * id 0 is reserved for OOV. One map-side-combined count over the
    * corpus; the rank window runs over the LIMITED v-row frame only
    * (the codebook-donor posture), and the resulting table is
    * broadcast-sized by construction. */
  def buildVocab(docs: DataFrame, textCol: Column, v: Int): DataFrame =
    buildVocabFromTokens(docs, graft.functions.TextFunctions.tokens(textCol), v)

  /** [[buildVocab]] over an already-tokenized array column — the
    * subword path: row 116's BPE pieces feed the same rank/limit
    * machinery the word path uses. */
  def buildVocabFromTokens(docs: DataFrame, toksCol: Column, v: Int): DataFrame = {
    require(v > 0, s"vocab size must be positive, got $v")
    val counts = docs
      .select(explode(toksCol).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("token"))
      .limit(v)
    val w = Window.orderBy(col("c").desc, col("token"))
    counts.withColumn("tid", row_number().over(w).cast(LongType))
      .select(col("token"), col("tid"), col("c"))
  }

  /** Id-ized token sequences: each doc's tokens mapped through the
    * broadcast vocab (OOV → 0), reassembled in position order — the
    * tokenize→ids step that feeds sequence packing (row 75). One
    * broadcast left join on the exploded tokens, one doc-keyed
    * shuffle for the ordered reassembly (inherent: sequences ARE
    * doc-grouped), nothing corpus-wide beyond the vocab count. */
  def idize(docs: DataFrame, idCol: Column, textCol: Column,
            vocab: DataFrame): DataFrame =
    idizeFromTokens(docs, idCol, graft.functions.TextFunctions.tokens(textCol), vocab)

  /** [[idize]] over an already-tokenized array column (subword path). */
  def idizeFromTokens(docs: DataFrame, idCol: Column, toksCol: Column,
                      vocab: DataFrame): DataFrame = {
    val toks = docs.select(idCol.as("doc_id"),
      posexplode(toksCol).as(Seq("pos", "token")))
    toks.join(broadcast(vocab.select(col("token"), col("tid"))), Seq("token"), "left")
      .withColumn("tid", coalesce(col("tid"), lit(0L)))
      .groupBy(col("doc_id"))
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("tid")))),
          x => x("tid")).as("ids"),
        sum(when(col("tid") === 0L, 1L).otherwise(0L)).as("n_oov"))
  }

  /** §2.5 — 512-token vocab over `documents`, id sequences per doc.
    * The sequence goes over the oracle wire as a CSV string: the
    * driver's value-hash compare is only proven on scalar columns
    * (every prior oracle output is scalar), and a joined string pins
    * order + content just as tightly. The library API ([[idize]])
    * returns the real array column. */
  def tokenIdsQ(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    idize(docs, col("doc_id"), col("text"),
        buildVocab(docs, col("text"), v = 512))
      .select(col("doc_id"),
        concat_ws(",", col("ids")).as("ids_csv"), col("n_oov"))
      .orderBy(col("doc_id"))
  }

  /** Stratified split with EXACT quotas (SURVEY.md §2 row 193) — the
    * companion [[assignSplit]] (hash thresholding) deliberately is
    * not: hash splits are only proportional in expectation, and on a
    * small or skewed stratum the dev set can land 30% off its target;
    * when the contract is "exactly 80/10/10 WITHIN every (lang,
    * source) stratum" (eval sets that must not drift between
    * re-runs), the quotas must be apportioned and the assignment must
    * count. Per stratum: largest-remainder (Hamilton) quotas over the
    * split percentages (the row-165 arithmetic, inlined over the
    * 3-row-per-stratum frame: base = floor(n·pct/100), deficit
    * distributed by remainder DESC then split order), then documents
    * rank WITHIN the stratum by the domain-prefixed hash ("ssplit|" —
    * deterministic, independent of every other hash stream) and fill
    * the ranges train → dev → test.
    *
    * The honest scale cost: exactness needs ONE per-stratum rank
    * window (a sort bounded by the largest stratum) — that is the
    * price of counted quotas over hash thresholding's zero-exchange
    * approximation; the quota frame itself is strata×splits rows and
    * broadcasts. */
  def stratifiedSplit(df: DataFrame, strataCols: Seq[String], idCol: Column,
                      splits: Seq[(String, Int)]): DataFrame = {
    require(splits.nonEmpty && splits.map(_._2).sum == 100,
      s"split percentages must sum to 100, got $splits")
    val spark = df.sparkSession
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val sk = strataCols.map(col)
    val sizes = df.groupBy(sk: _*).agg(count(lit(1)).as("n"))
    // fixed fill order = the caller's split order
    val spec = splits.zipWithIndex
      .map { case ((nm, pct), i) => (nm, pct.toLong, i.toLong) }
      .toDF("split", "pct", "ord")
    val wRem = Window.partitionBy(sk: _*)
      .orderBy(col("rem").desc, col("ord"))
    val wCum = Window.partitionBy(sk: _*).orderBy(col("ord"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val quotas = sizes.crossJoin(broadcast(spec))
      .withColumn("base", GraphOps.fdiv(col("n") * col("pct"), lit(100L)))
      .withColumn("rem", pmod(col("n") * col("pct"), lit(100L)))
      .withColumn("deficit",
        col("n") - sum(col("base")).over(Window.partitionBy(sk: _*)))
      .withColumn("bonus",
        when(row_number().over(wRem) <= col("deficit"), 1L).otherwise(0L))
      .withColumn("quota", col("base") + col("bonus"))
      .withColumn("hi", sum(col("quota")).over(wCum))
      .select(sk :+ col("split") :+ col("ord") :+
        (col("hi") - col("quota")).as("lo") :+ col("hi"): _*)
    val ranked = df.withColumn("__h",
        graft.plans.PolyHash64.poly_hash64(
          concat(lit("ssplit|"), idCol.cast(StringType))))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(sk: _*).orderBy(col("__h"), idCol)).cast(LongType))
    ranked.join(broadcast(quotas),
        strataCols.map(c => ranked(c) === quotas(c)).reduce(_ && _) &&
          col("__rn") > col("lo") && col("__rn") <= col("hi"))
      .select(strataCols.map(ranked(_)) ++ Seq(idCol, col("split")): _*)
  }

  /** Walk-forward CV folds with embargo (SURVEY.md §2 row 199) — the
    * TIME-series split rows 73/193 must not be used for: hash and
    * stratified splits scatter a user's events across train and test,
    * so any temporally-autocorrelated signal (sessions, trends, the
    * label horizon itself) leaks backwards. Walk-forward evaluates
    * like production trains: fold i trains on everything before its
    * boundary and tests on the next time slice, and an EMBARGO gap
    * ahead of each test slice drops the training events whose label
    * window would overlap the test period (the purge+embargo of
    * López de Prado, 2018 — embargo width = the label horizon is the
    * standard choice). Boundaries are equal TIME slices of the
    * observed [min, max] span — a pure integer function of two
    * scalars, not data-dependent sampling, so both engines derive
    * them identically.
    *
    * Scale shape (100 TB): one 1-row min/max aggregate (the
    * watermark-scalar posture), a k-row boundary literal frame
    * crossed with the corpus BROADCAST, and ONE map-side-combined
    * conditional aggregate per event×fold — no sort, no window, no
    * shuffle of the event stream; output is 1 row per fold. */
  def walkForwardFolds(events: DataFrame, tsCol: Column, k: Int,
                       embargoMicros: Long): DataFrame = {
    require(k >= 1, s"need k >= 1 folds, got $k")
    require(embargoMicros >= 0, s"embargo must be >= 0, got $embargoMicros")
    val mm = events.agg(min(unix_micros(tsCol)).as("mn"),
      max(unix_micros(tsCol)).as("mx"))
    val folds = events.sparkSession.range(1, k + 1L).select(col("id").as("fold"))
    val bounds = folds.crossJoin(broadcast(mm))
      .withColumn("seg", col("mx") - col("mn") + 1L)
      .withColumn("test_start",
        col("mn") + GraphOps.fdiv(col("seg") * col("fold"), lit(k + 1L)))
      .withColumn("test_end",
        col("mn") + GraphOps.fdiv(col("seg") * (col("fold") + 1L), lit(k + 1L)))
      .withColumn("train_end", col("test_start") - lit(embargoMicros))
      .select(col("fold"), col("train_end"), col("test_start"), col("test_end"))
    def cnt(p: Column) = coalesce(sum(when(p, 1L)), lit(0L))
    events.select(unix_micros(tsCol).as("tu")).crossJoin(broadcast(bounds))
      .groupBy(col("fold"), col("train_end"), col("test_start"), col("test_end"))
      .agg(cnt(col("tu") < col("train_end")).as("n_train"),
        cnt(col("tu") >= col("train_end") && col("tu") < col("test_start"))
          .as("n_embargo"),
        cnt(col("tu") >= col("test_start") && col("tu") < col("test_end"))
          .as("n_test"))
  }

  /** §2 row 199 — 5 folds over events with a 3-day embargo. */
  def walkForwardQ(s: SparkSession, d: String): DataFrame =
    walkForwardFolds(Tables.events(s, d), col("ts"), k = 5,
        embargoMicros = 3L * 86400L * 1000000L)
      .orderBy(col("fold"))

  /** §2 row 193 — exact 80/10/10 within every (lang, source) stratum. */
  def stratSplitQ(s: SparkSession, d: String): DataFrame =
    stratifiedSplit(Tables.documents(s, d), Seq("lang", "source"),
        col("doc_id"), Seq("train" -> 80, "dev" -> 10, "test" -> 10))
      .orderBy(col("doc_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_strat_split"    -> (stratSplitQ _),
    "q_walk_forward"   -> (walkForwardQ _),
    "q_split_assign"   -> (splitAssignQ _),
    "q_kfold"          -> (kfoldQ _),
    "q_group_kfold"    -> (groupKfoldQ _),
    "q_decontaminate"  -> (decontaminateQ _),
    "q_pack_sequences" -> (packSequencesQ _),
    "q_shuffle_order"  -> (shuffleOrderQ _),
    "q_interleave_order" -> (interleaveOrderQ _),
    "q_token_ids"      -> (tokenIdsQ _),
    "q_ablation_tiers" -> (ablationTiersQ _),
  )

  // ---- Oracles -------------------------------------------------------------

  private val M = "18446744073709551616" // 2^64

  /** HUGEINT replay of `poly_hash64(prefix || CAST(id AS VARCHAR))`:
    * byte polynomial then splitmix64, 64x64-bit products split at 2^32
    * (the q_dedup_simhash recipe). The polynomial folds UTF-8 BYTES
    * (hex(encode(t)) decoded pairwise), matching PolyHash64.compute on
    * ANY text — not just ASCII, unlike the ascii(substr) fold the
    * documented-ASCII oracles use. Emits `SELECT <id>, h` where `h` is
    * the SIGNED 64-bit result (matches Spark's Long), so callers can
    * pmod it or order by it directly. Shared by every oracle that
    * replays a domain-prefixed id hash. */
  private[operators] def polyHashSql(prefix: String, table: String = "documents",
                                     id: String = "doc_id"): String = {
    // the innermost layer aliases the prefixed string AS t; an id also
    // named t would shadow it and silently hash the UNPREFIXED value
    // (caught by the q_cms_tokens parity gate)
    require(id != "t", "polyHashSql: id column must not be named 't'")
    polyHashOverSql(id,
      s"SELECT $id, '$prefix' || CAST($id AS VARCHAR) AS t FROM $table")
  }

  /** The general form: `inner` is any relation emitting the
    * passthrough columns `keys` (comma-separated) plus a VARCHAR
    * column `t`; emits `SELECT <keys>, h` with h = the signed 64-bit
    * poly_hash64(t). [[polyHashSql]] is the common id-hash wrapper. */
  private[operators] def polyHashOverSql(keys: String, inner: String): String = {
    val id = keys
    s"""SELECT $id,
       |  CAST(CASE WHEN z3 >= 9223372036854775808 THEN z3 - $M ELSE z3 END AS BIGINT) AS h
       |FROM (
       |  SELECT $id,
       |    xor(z2, z2 >> 31) AS z3
       |  FROM (
       |    SELECT $id,
       |      ((t2 % 4294967296) * 10724457036175037673
       |        + (((t2 // 4294967296) * 10724457036175037673) % 4294967296) * 4294967296) % $M AS z2
       |    FROM (
       |      SELECT $id, xor(z1, z1 >> 27) AS t2
       |      FROM (
       |        SELECT $id,
       |          ((t1 % 4294967296) * 13787848793156543929
       |            + (((t1 // 4294967296) * 13787848793156543929) % 4294967296) * 4294967296) % $M AS z1
       |        FROM (
       |          SELECT $id, xor(z0, z0 >> 30) AS t1
       |          FROM (
       |            SELECT $id, (p + 11400714819323198485) % $M AS z0
       |            FROM (
       |              SELECT $id,
       |                list_reduce(
       |                  list_prepend(CAST(0 AS HUGEINT),
       |                    list_transform(range(1, octet_length(encode(t))+1),
       |                      i -> CAST(strpos('0123456789ABCDEF', substr(hex(encode(t)), 2*i-1, 1)) - 1 AS HUGEINT) * 16
       |                         + CAST(strpos('0123456789ABCDEF', substr(hex(encode(t)), 2*i, 1)) - 1 AS HUGEINT))),
       |                  (a, b) -> (a * 1000003 + b) % $M) AS p
       |              FROM ($inner) _t0) _t1) _t2) _t3) _t4) _t5) _t6) _t7""".stripMargin
  }

  /** Split-assignment CTE: doc_id -> (bucket, split), i.e.
    * pmod(poly_hash64('split|' || id), 100) with Java floor-mod
    * semantics over the signed hash. Shared with the full-pipeline
    * oracle (TrainingPipeline). */
  private[operators] val splitSql =
    s"""SELECT doc_id, bucket,
       |  CASE WHEN bucket < 80 THEN 'train'
       |       WHEN bucket < 90 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM (
       |  SELECT doc_id, (h % 100 + 100) % 100 AS bucket
       |  FROM (${polyHashSql("split|")}) _h) _b""".stripMargin

  /** Distinct 8-gram shingles per doc (mirrors shingleRows(n=8) over
    * the normalized text). */
  private val shingle8Sql =
    """SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws)-6),
      |    i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3], ws[i+4], ws[i+5], ws[i+6], ws[i+7])))) AS sh
      |FROM (SELECT doc_id,
      |        regexp_split_to_array(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws
      |      FROM documents) w
      |WHERE len(ws) >= 8""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_split_assign" ->
      s"""SELECT doc_id, bucket, split FROM ($splitSql) s ORDER BY doc_id""".stripMargin,

    // per-stratum Hamilton quotas (floor + remainder-ranked bonus),
    // cumulative ranges in fill order, per-stratum hash rank join
    // the 1-row min/max scalar, 5 equal time slices of [mn, mx] by
    // pure integer division (all operands nonnegative so // == floor
    // division), the 3-day embargo subtraction, and one conditional
    // aggregate per fold; HUGEINT sums → BIGINT
    "q_walk_forward" ->
      """WITH mm AS (
        |  SELECT MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx FROM events),
        |b AS (
        |  SELECT CAST(f.fold AS BIGINT) AS fold,
        |    mn + ((mx - mn + 1) * f.fold) // 6 - 259200000000 AS train_end,
        |    mn + ((mx - mn + 1) * f.fold) // 6 AS test_start,
        |    mn + ((mx - mn + 1) * (f.fold + 1)) // 6 AS test_end
        |  FROM range(1, 6) f(fold) CROSS JOIN mm)
        |SELECT b.fold, b.train_end, b.test_start, b.test_end,
        |  CAST(COALESCE(SUM(CASE WHEN epoch_us(e.ts) < b.train_end THEN 1 END), 0) AS BIGINT) AS n_train,
        |  CAST(COALESCE(SUM(CASE WHEN epoch_us(e.ts) >= b.train_end
        |                          AND epoch_us(e.ts) < b.test_start THEN 1 END), 0) AS BIGINT) AS n_embargo,
        |  CAST(COALESCE(SUM(CASE WHEN epoch_us(e.ts) >= b.test_start
        |                          AND epoch_us(e.ts) < b.test_end THEN 1 END), 0) AS BIGINT) AS n_test
        |FROM b CROSS JOIN events e
        |GROUP BY b.fold, b.train_end, b.test_start, b.test_end
        |ORDER BY b.fold""".stripMargin,

    "q_strat_split" ->
      s"""WITH hs AS (${polyHashSql("ssplit|")}),
         |sz AS (SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY 1, 2),
         |spec(split, pct, ord) AS (VALUES ('train', 80, 0), ('dev', 10, 1), ('test', 10, 2)),
         |qa AS (
         |  SELECT sz.lang, sz.source, sz.n, sp.split, sp.pct, sp.ord,
         |    (sz.n * sp.pct - ((sz.n * sp.pct % 100 + 100) % 100)) // 100 AS base,
         |    (sz.n * sp.pct % 100 + 100) % 100 AS rem
         |  FROM sz CROSS JOIN spec sp),
         |qb AS (SELECT *,
         |    n - SUM(base) OVER (PARTITION BY lang, source) AS deficit,
         |    ROW_NUMBER() OVER (PARTITION BY lang, source
         |      ORDER BY rem DESC, ord) AS rr
         |  FROM qa),
         |qc AS (SELECT *,
         |    base + CASE WHEN rr <= deficit THEN 1 ELSE 0 END AS quota
         |  FROM qb),
         |qd AS (SELECT *,
         |    SUM(quota) OVER (PARTITION BY lang, source ORDER BY ord
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
         |  FROM qc),
         |rk AS (
         |  SELECT d.doc_id, d.lang, d.source,
         |    ROW_NUMBER() OVER (PARTITION BY d.lang, d.source
         |      ORDER BY hs.h, d.doc_id) AS rn
         |  FROM documents d JOIN hs ON d.doc_id = hs.doc_id)
         |SELECT rk.lang, rk.source, rk.doc_id, qd.split
         |FROM rk JOIN qd ON rk.lang = qd.lang AND rk.source = qd.source
         |  AND rk.rn > qd.hi - qd.quota AND rk.rn <= qd.hi
         |ORDER BY rk.doc_id""".stripMargin,

    "q_kfold" ->
      s"""SELECT doc_id, (h % 5 + 5) % 5 AS fold
         |FROM (${polyHashSql("fold|")}) _h
         |ORDER BY doc_id""".stripMargin,

    // the SAME hash replay, keyed by the group string instead of the id
    "q_group_kfold" ->
      s"""SELECT d.doc_id, d.source, (gh.h % 5 + 5) % 5 AS fold
         |FROM (${polyHashOverSql("doc_id",
                 "SELECT doc_id, 'gfold|' || source AS t FROM documents")}) gh
         |JOIN documents d ON d.doc_id = gh.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // residue < first admitting ppm threshold; -1 never fires here
    // because the ladder ends at 1e6
    "q_ablation_tiers" ->
      s"""SELECT doc_id,
         |  CAST(CASE WHEN r < 10000 THEN 0 WHEN r < 100000 THEN 1
         |            WHEN r < 1000000 THEN 2 ELSE -1 END AS BIGINT) AS tier
         |FROM (SELECT doc_id, (h % 1000000 + 1000000) % 1000000 AS r
         |      FROM (${polyHashSql("tier|")}) _h) _r
         |ORDER BY doc_id""".stripMargin,

    // top-512 vocab by (count desc, token), OOV -> 0, sequences
    // reassembled in position order
    "q_token_ids" ->
      """WITH toks AS (
        |  SELECT doc_id, i,
        |    regexp_extract_all(text, '[A-Za-z0-9]+', 0)[i] AS token
        |  FROM (
        |    SELECT doc_id, text,
        |      unnest(range(1, len(regexp_extract_all(text, '[A-Za-z0-9]+', 0)) + 1)) AS i
        |    FROM documents) t),
        |cnt AS (SELECT token, COUNT(*) AS c FROM toks GROUP BY 1),
        |vocab AS (
        |  SELECT token, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, token) AS BIGINT) AS tid
        |  FROM (SELECT * FROM cnt ORDER BY c DESC, token LIMIT 512) v),
        |mapped AS (
        |  SELECT toks.doc_id, toks.i, COALESCE(vocab.tid, 0) AS tid
        |  FROM toks LEFT JOIN vocab USING (token))
        |SELECT doc_id, string_agg(CAST(tid AS VARCHAR), ',' ORDER BY i) AS ids_csv,
        |  CAST(SUM(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        |FROM mapped GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // weighted-fair-queueing interleave: per-corpus hash rank replayed
    // as a single window, virtual-time slot as pure integer arithmetic
    "q_interleave_order" ->
      s"""WITH h AS (${polyHashSql("ileave|")}),
         |r AS (
         |  SELECT source, doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) - 1 AS pos,
         |    (CAST(substr(source, 4) AS INTEGER) % 3) + 1 AS w
         |  FROM documents JOIN h USING (doc_id))
         |SELECT source, doc_id, CAST(pos AS BIGINT) AS pos,
         |  CAST(((pos + 1) * 1048576) // w AS BIGINT) AS slot
         |FROM r
         |ORDER BY source, doc_id""".stripMargin,

    // the oracle replays the SINGLE-window rank; the engine's bucketed
    // decomposition must reproduce it bit-exactly (contiguous hash
    // ranges => contiguous rank blocks)
    "q_shuffle_order" ->
      s"""SELECT doc_id,
         |  CAST(ROW_NUMBER() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
         |FROM (${polyHashSql("order|")}) _h
         |ORDER BY doc_id""".stripMargin,

    "q_decontaminate" ->
      s"""WITH split AS ($splitSql),
         |sh AS ($shingle8Sql),
         |tr AS (SELECT sh.doc_id AS train_id, sh.sh FROM sh JOIN split USING (doc_id)
         |       WHERE split.split = 'train'),
         |te AS (SELECT sh.doc_id AS test_id, sh.sh FROM sh JOIN split USING (doc_id)
         |       WHERE split.split = 'test')
         |SELECT tr.train_id, te.test_id, COUNT(*) AS n_shared
         |FROM tr JOIN te ON tr.sh = te.sh
         |GROUP BY 1, 2
         |HAVING COUNT(*) >= 1
         |ORDER BY train_id, test_id""".stripMargin,

    "q_pack_sequences" ->
      """WITH toks AS (
        |  SELECT lang, doc_id,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+', 0)) AS BIGINT) AS n_tokens
        |  FROM documents),
        |binned AS (
        |  SELECT lang, doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (
        |      PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048 AS BIGINT) AS bin
        |  FROM toks)
        |SELECT lang, bin,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS tokens_in_bin
        |FROM binned
        |GROUP BY lang, bin
        |ORDER BY lang, bin""".stripMargin,
  )
}
