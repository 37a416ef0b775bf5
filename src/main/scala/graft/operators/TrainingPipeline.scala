package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions
import graft.sources.Tables

/** The corpus→shards flow end-to-end, one call — the training-data
  * counterpart of [[HealthPipeline.runOnce]]. Every stage is an
  * already-verified §2.5 operator; this composes them in the canonical
  * order a pre-training data pipeline runs them:
  *
  *  1. quality gate — score floor ([[Curation.score]]) + repetition
  *     rules ([[CorpusOps.repetitionStats]])
  *  2. exact dedup — normalized-hash keep-lowest-id
  *     ([[Curation.dedupKeepFirst]])
  *  3. near-dup resolution — MinHash-LSH pairs → connected components
  *     → keep each group's canonical (min-id) doc ([[Dedup]])
  *  4. deterministic split assignment ([[TrainingOps.assignSplit]])
  *  5. decontamination — drop TRAIN docs that leak into the test split
  *     ([[TrainingOps.decontaminate]]; the test set is the thing being
  *     protected, so the train side pays)
  *  6. token-budget packing per (split, lang)
  *     ([[TrainingOps.packBinned]])
  *
  * Stage order matters and is load-bearing: dedup runs before the
  * split so a dup pair can't straddle train/test (the cheapest
  * decontamination is the dedup you already did), and decontamination
  * runs after the split because it is DEFINED by the split.
  *
  * Everything is one linear chain of the operators' own shuffles; no
  * stage adds driver state, so the composition inherits the 100 TB
  * posture of its parts.
  */
object TrainingPipeline {

  /** `verifyK = 0` keeps the full shingle-hash set per doc in the
    * near-dup witness state (exact Jaccard verify — the oracle-parity
    * default); `verifyK > 0` bounds it to a k-hash bottom-k sketch
    * (see [[Dedup.minhashState]]) — the 100 TB knob when the sigs
    * table's O(corpus tokens) footprint matters more than exactness at
    * the threshold boundary. `lshBands` (x 32/lshBands rows) trades
    * recall against candidate volume: 8x4 is the scale default, 16x2
    * the oracle-parity config (see [[graft.operators.TextOps
    * .dedupMinhashQ]] for the math). Both must stay constant across a
    * corpus's lifetime (ingests verify batch state against stored
    * state). */
  final case class Config(
      minQuality: Double = 0.55,
      maxTopFrac: Double = 0.12,
      maxDup2Frac: Double = 0.55,
      nearDupThreshold: Double = 0.5,
      trainPct: Int = 80,
      valPct: Int = 10,
      decontShingle: Int = 8,
      packCapacity: Long = 2048L,
      verifyK: Int = 0,
      lshBands: Int = 8,
      scrubSpanGram: Int = 0,
      scrubMinCount: Int = 2,
      vocabSize: Int = 0,
      bpeMerges: Int = 0) {
    require(bpeMerges == 0 || vocabSize > 0,
      "bpeMerges > 0 needs vocabSize > 0: subword ids only exist through the vocab stage")
  }

  /** The stage intermediates [[run]] flows through — exposed so
    * [[bootstrapState]] can capture incremental-ingest state without
    * re-running any stage. */
  private[operators] final case class Stages(
      gated: DataFrame,           // quality+repetition survivors, with __h = md5(normalized text)
      sigs: DataFrame,            // minhashState of the near-dup entrants: (id, hs, sig)
      labels: DataFrame,          // CC labels over near-dup pairs (non-singleton nodes only)
      shippedShingles: DataFrame, // (doc_id, split, h): decon n-gram hashes of shipped docs
      manifest: DataFrame)        // packed (split, lang, bin, doc_id, n_tokens)

  /** Stage frames each feed 2-4 downstream consumers (within one run
    * AND across [[bootstrapState]]'s witness captures); Spark dedups
    * common subplans only via best-effort exchange reuse, so without
    * pinning, the gate chain replays once per consumer (measured: the
    * bootstrap phase alone at 15s vs 5s). Persist keeps lineage —
    * lost blocks recompute. */
  private val Lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** The frames one call persisted, oldest first — the call's cache
    * entries, which stay until someone [[release]]s them. */
  private[operators] final class Pins {
    private val buf = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def apply(df: DataFrame): DataFrame = { buf += df; df.persist(Lvl) }
    def frames: Seq[DataFrame] = buf.toSeq
  }

  /** Unpersist `frames` newest first. Persist order is a topological
    * order (a frame is built after its parents), so this drops every
    * child before its parents: `unpersist` re-plans each still-cached
    * dependent whose buffer is not loaded, and a parent dropped first
    * would re-plan its children's deep ingest plans. Children first,
    * releasing a batch's 13 frames runs no job and takes 5-25 ms
    * (4 vCPUs, 250-doc batches). */
  private def release(frames: Seq[DataFrame]): Unit =
    frames.reverseIterator.foreach(_.unpersist())

  /** The shared token pass: ONE explode yields every text-derived view
    * the stages need — the lead words are read by codegen array
    * indexing at explode time ([[TextFunctions.tokenLeadRows]]), so
    * word stats and bigrams (the repetition gate), 3-gram shingle
    * hashes (MinHash) and `decontShingle`-gram hashes (decon) all ride
    * one ZERO-SHUFFLE scan of the text instead of a token-stream
    * sort-shuffle (the previous lead-window form) or one full text
    * re-parse per stage. Returns (repetition tokens, 3-gram hashes
    * (doc_id, h), decon-gram hashes (doc_id, h)); each view is
    * byte-identical to what its standalone operator computes, so
    * results cannot drift. */
  private def tokenPass(docs: DataFrame, cfg: Config, pin: Pins)
      : (DataFrame, DataFrame, DataFrame) = {
    require(cfg.decontShingle >= 3,
      s"decontShingle must be >= 3, got ${cfg.decontShingle}")
    val L = cfg.decontShingle - 1
    // Spread the TEXT rows before the explode: the token pass is the
    // pipeline's CPU-heaviest map work (every token hashed three ways
    // into the persisted lead frame), so it must not be serialized by
    // a narrow input layout (a single-row-group parquet scan is ONE
    // task). Shuffling the un-exploded text is strictly cheaper than
    // the lead-window form this replaced (which shuffled AND sorted
    // the exploded token stream — ~3x the bytes); the lead words
    // themselves are read by codegen array indexing at explode time,
    // zero further shuffles.
    // The persisted frame carries the two gram HASHES instead of the
    // L+1 lead words: downstream only ever reads (__w, __l1) as strings
    // (repetition stats) and the 3-/L+1-gram hashes (MinHash, decon),
    // so hashing at explode time shrinks the cached bytes from 8 string
    // columns to 2 strings + 2 longs per token (guide §2.3 — narrower
    // types through the pinned boundary) and hashes each gram ONCE at
    // fill instead of once per consumer. The `when` guards reproduce
    // the old post-filter exactly: h is NULL iff the gram would have
    // been filtered (lead NULL past the doc end) — concat_ws SKIPS
    // nulls, so an unguarded hash would alias short grams.
    val leads = pin(TextFunctions.tokenLeadRows(
        docs.repartition(col("doc_id")), Seq(col("doc_id")),
        col("text"), L + 1)
      .select(col("doc_id"), col("__w"), col("__l1"),
        when(col("__l2").isNotNull,
          xxhash64(concat_ws(" ", col("__w"), col("__l1"), col("__l2"))))
          .as("__h3"),
        when(col(s"__l$L").isNotNull,
          xxhash64(concat_ws(" ",
            (col("__w") +: (1 to L).map(i => col(s"__l$i"))): _*)))
          .as("__hd")))
    val tri = leads.filter(col("__h3").isNotNull)
      .select(col("doc_id"), col("__h3").as("h"))
    val dec = leads.filter(col("__hd").isNotNull)
      .select(col("doc_id"), col("__hd").as("h"))
    (leads.select(col("doc_id").as("__id"), col("__w"), col("__l1")), tri, dec)
  }

  /** tokenPass + quality/repetition gate — the stage-1 block shared
    * verbatim by the batch run and the ingest. Exposed
    * private[operators] (as a reusable triple (gated, tri, dec)) so
    * the registered incremental query can FILL the batch's gate cache
    * concurrently with the corpus bootstrap (guide §2.6): the batch
    * side is a pure function of the batch up to the exact-dedup
    * anti-join, so nothing about its values can depend on when the
    * fill runs. */
  private[operators] def gateStage(docs: DataFrame, cfg: Config, pin: Pins = new Pins)
      : (DataFrame, DataFrame, DataFrame) = {
    val (repToks, tri, dec) = tokenPass(docs, cfg, pin)
    val scored = Curation.filterQuality(Curation.score(docs, col("text")), cfg.minQuality)
    val rep = CorpusOps.repetitionStatsFromTokens(repToks, "doc_id")
      .filter(col("top_frac") <= cfg.maxTopFrac && col("dup2_frac") <= cfg.maxDup2Frac)
      .select(col("doc_id"))
    val gated = pin(scored.join(rep, Seq("doc_id"))
      .withColumn("__h", md5(TextFunctions.normalize(col("text")))))
    (gated, tri, dec)
  }

  /** Every frame this persists is recorded on `pin`. */
  private[operators] def runStages(docs: DataFrame, cfg: Config,
                                   probe: (String, DataFrame) => Unit = (_, _) => (),
                                   pin: Pins = new Pins): Stages = {
    // 1. quality gate (shared stage-1 block)
    val (gated, tri, dec) = gateStage(docs, cfg, pin)
    probe("gate", gated)

    // 2. exact dedup
    val exactDeduped = pin(Curation.dedupKeepFirst(gated, col("text"), col("doc_id")))
    probe("exact_dedup", exactDeduped)

    // 3. near-dup groups -> canonical doc per group (signature state is
    // computed once, persisted, and handed back for incremental reuse)
    val sigs = pin(Dedup.minhashStateFromHashes(
        tri.join(exactDeduped.select(col("doc_id")), Seq("doc_id"))
          .select(col("doc_id").as("id"), col("h")),
        numPerm = 32, verifyK = cfg.verifyK))
    val pairs = Dedup.minhashNearDupsFromState(sigs, numPerm = 32,
      bands = cfg.lshBands, threshold = cfg.nearDupThreshold, verifyK = cfg.verifyK)
    val labels = Dedup.connectedComponents(pairs, "id_a", "id_b")
    probe("lsh_cc", labels)
    val canonical0 = exactDeduped
      .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .filter(col("comp").isNull || col("comp") === col("doc_id"))
      .drop("comp")

    // 3b. substring scrub (config-gated, OFF by default — `scrubSpanGram
    // = 0` leaves this a no-op and the stage chain byte-identical to the
    // ungated pipeline): remove corpus-wide duplicated word spans
    // ([[SubstringDedup.scrubDupSpans]], survey row 96) from the
    // surviving canonicals, between near-dup resolution (whole-doc dups
    // are already gone, so span counting isn't inflated by them) and the
    // split (token counts downstream — packing — see scrubbed text).
    // The decon gram hashes stay those of the PRE-scrub text: a
    // conservative superset (a scrubbed span can only remove leak
    // evidence, never add it), and it keeps the shared token pass
    // single. Scrubbed text is normalized by construction.
    val canonical =
      if (cfg.scrubSpanGram < 2) canonical0
      else canonical0
        .join(SubstringDedup.scrubDupSpans(canonical0, "doc_id", "text",
            cfg.scrubSpanGram, cfg.scrubMinCount)
          .select(col("doc_id"), col("clean_text")), Seq("doc_id"))
        .withColumn("text", col("clean_text")).drop("clean_text")

    // 4. split
    val split = pin(TrainingOps.assignSplit(canonical, col("doc_id"),
      cfg.trainPct, cfg.valPct))
    probe("split", split)

    // 5. decontamination: drop leaking train docs (train×test on shared
    // decon-gram hashes — same join [[TrainingOps.decontaminate]] runs,
    // fed from the shared pass)
    val sh = pin(dec.join(split.select(col("doc_id"), col("split")), Seq("doc_id"))
      .select(col("doc_id"), col("split"), col("h")).distinct())
    val leaks = sh.filter(col("split") === "train")
      .join(sh.filter(col("split") === "test").select(col("h")).distinct(), Seq("h"))
      .select(col("doc_id")).distinct()
    val clean = pin(split.join(leaks, Seq("doc_id"), "left_anti"))
    probe("decon", clean)

    // 6. pack per (split, lang)
    val toks = clean.select(col("split"), col("lang"), col("doc_id"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"))
    // ranged variant: train×en is most of a corpus — the windowed form
    // would funnel it through one task (bins are provably identical)
    val manifest0 = TrainingOps.packBinnedRanged(toks, struct(col("split"), col("lang")),
        col("doc_id"), col("n_tokens"), cfg.packCapacity)
      .select(col("split"), col("lang"), col("bin"), col("doc_id"), col("n_tokens"))

    // 7. id-ization (config-gated, OFF by default — `vocabSize > 0`
    // adds (ids, n_oov) per manifest row; default off keeps the
    // manifest schema, so q_training_pipeline stays hash-exact). The
    // vocabulary comes from the TRAIN split only — inducing it over
    // val/test would leak their token statistics into the model's
    // input space — and val/test docs map through it with OOV → 0,
    // exactly as they would at training time. Same tokenizer as
    // n_tokens, so |ids| == n_tokens row for row.
    // `bpeMerges > 0` swaps the id-ization tokenizer for the row-116
    // subword path: merges AND vocab are induced from the TRAIN split
    // only (the same no-leak rule as the word vocab); all splits then
    // encode through the frozen merge table, so |ids| == |pieces| per
    // doc and val/test pieces outside the train vocab map to OOV = 0 —
    // exactly the serving-time behavior. n_tokens (and packing) keep
    // the word tokenizer: bins measure corpus mass, not model vocab.
    val manifest =
      if (cfg.vocabSize <= 0) manifest0
      else {
        val idized =
          if (cfg.bpeMerges <= 0)
            TrainingOps.idize(clean, col("doc_id"), col("text"),
              TrainingOps.buildVocab(
                clean.filter(col("split") === "train"), col("text"), cfg.vocabSize))
          else {
            val train = clean.filter(col("split") === "train")
            val merges = BpeOps.learnMerges(train, "text", cfg.bpeMerges)
            // feeds the vocab count AND the id mapping
            val pieces = pin(BpeOps.encode(clean, "doc_id", "text", merges))
            val vocab = TrainingOps.buildVocabFromTokens(
              pieces.join(train.select(col("doc_id")), Seq("doc_id")),
              col("pieces"), cfg.vocabSize)
            TrainingOps.idizeFromTokens(pieces, col("doc_id"), col("pieces"), vocab)
          }
        manifest0.join(idized, Seq("doc_id"), "left")
          .select(col("split"), col("lang"), col("bin"), col("doc_id"),
            col("n_tokens"), col("ids"), col("n_oov"))
      }
    probe("pack", manifest)
    Stages(gated, sigs, labels,
      sh.join(clean.select(col("doc_id")), Seq("doc_id")), manifest)
  }

  /** Returns the shard manifest: one row per surviving document —
    * (split, lang, bin, doc_id, n_tokens), where `bin` is the
    * token-budget pack within (split, lang). The manifest reads the
    * stage frames this persists lazily, after it returns, so nothing
    * here releases them: they stay cached for the session. */
  def run(docs: DataFrame, cfg: Config = Config(),
          probe: (String, DataFrame) => Unit = (_, _) => ()): DataFrame =
    runStages(docs, cfg, probe).manifest

  /** Land the shards: one parquet table partitioned by (split, lang) —
    * the read patterns that matter prune at directory level ("the
    * train/en shard" opens only train/en files) — with rows of a
    * (split, lang) partition clustered by (bin, doc_id) via a
    * repartition on the partition keys + in-partition sort, so a bin is
    * a contiguous run inside its files and a sequential shard reader
    * streams bins in order. Returns the landed root. */
  def writeShards(docs: DataFrame, manifest: DataFrame, path: String): String = {
    graft.sources.ShardStore.init(docs, manifest, path)
    path
  }

  // ---- Incremental ingest -------------------------------------------------

  /** Everything a future ingest needs to extend the corpus without
    * re-reading it — five frames, each a parquet table in deployment.
    *
    * CONTRACT: doc ids are globally unique across the corpus's entire
    * lifetime — every table here is keyed by them, and the ingest's
    * signature union resolves sides by id, so a batch doc reusing a
    * corpus id would silently merge two identities (assign ingest id
    * ranges, or derive ids from content hashes).
    *
    *  - `hashes`    (h): normalized-content hashes of every
    *    quality-passed doc ever seen (exact-dup witness set)
    *  - `sigs`      (id, hs, sig): MinHash state of every doc that
    *    entered the near-dup stage — including docs later dropped as
    *    non-canonical, because they still witness component membership
    *    (a batch doc near-dup of a dropped doc belongs to that doc's
    *    component)
    *  - `labels`    (id, comp): connected-component labels, non-singleton
    *    nodes only (absence = singleton); fed back as star edges so new
    *    batch edges merge components EXACTLY, not approximately
    *  - `shingles`  (doc_id, split, h): 8-gram shingle hashes of shipped
    *    docs (decontamination in both directions)
    *  - `manifest`  (split, lang, bin, doc_id, n_tokens): shipped rows
    */
  final case class CorpusState(
      hashes: DataFrame,
      sigs: DataFrame,
      labels: DataFrame,
      shingles: DataFrame,
      manifest: DataFrame)

  /** The append-shaped part of one ingest's state update — what a
    * delta commit ([[graft.sources.StateStore.commitDelta]]) writes
    * instead of rewriting the corpus-sized tables: the batch's new
    * content hashes, new signature rows, and the accepted docs' decon
    * shingles. Together with [[IngestDelta.accepted]] (the manifest
    * delta) and [[IngestDelta.tombstones]] (the dead set), these
    * reconstruct the next [[CorpusState]] exactly — `runIncremental`'s
    * own state arithmetic is `old ∪ delta − dead` per table. */
  final case class StateDelta(
      newHashes: DataFrame,   // (h)
      newSigs: DataFrame,     // (id, hs, sig)
      newShingles: DataFrame) // (doc_id, split, h)

  /** One ingest's outcome: `accepted` — new manifest rows (bins open
    * AFTER the group's historical max, shipped bins are immutable);
    * `tombstones` — (doc_id, reason) for previously shipped docs this
    * batch invalidated (`superseded`: a batch doc bridged its near-dup
    * component to one with a smaller canonical; `decontaminated`: a new
    * test doc revealed verbatim overlap with a shipped train doc);
    * `state` — the extended [[CorpusState]] for the next ingest;
    * `stateDelta` — the same state update in delta form, for O(batch)
    * commits.
    *
    * Every field reads frames [[runIncremental]] persisted; they stay
    * cached until [[release]]. */
  final case class IngestDelta(
      accepted: DataFrame,
      tombstones: DataFrame,
      state: CorpusState,
      stateDelta: StateDelta)(cached: Seq[DataFrame]) {

    /** Unpersist every frame `runIncremental` cached for this delta —
      * its gate frames (unless the caller handed them in), its stage
      * frames, `accepted`, `tombstones` and the five `state` frames —
      * children first. Call it once nothing reads the delta any more:
      * afterwards each field recomputes from its inputs on every
      * read. [[graft.streaming.CorpusIngest.ingestBatch]] releases
      * each batch's delta after its commit. */
    def release(): Unit = TrainingPipeline.release(cached)
  }

  /** Pin every OUTPUT state frame to one computation. Persist (not
    * checkpoint): planning stays lazy, lineage survives a lost block,
    * and each frame's 2-4 downstream consumers reuse one computation —
    * an unpinned manifest replayed the whole bootstrap once per
    * consumer (measured 26s vs 6s on the registered query). Plan-DEPTH
    * control across CHAINED in-memory ingests is [[truncated]]'s job.
    *
    * Who releases: [[bootstrapState]] hands its five frames to the
    * caller, who unpersists them once the state is committed or
    * replaced; [[runIncremental]] records them on its delta, and
    * [[IngestDelta.release]] drops them. */
  private def pinned(state: CorpusState, pin: Pins): CorpusState =
    CorpusState(
      hashes = pin(state.hashes),
      sigs = pin(state.sigs),
      labels = pin(state.labels),
      shingles = pin(state.shingles),
      manifest = pin(state.manifest))

  /** Truncate the INPUT state's plans at the ingest boundary. The
    * output state's frames reference each other (tombstones embed
    * labels AND manifest; shingles embed tombstones; the next manifest
    * embeds the prior one twice), so chaining ingests in memory grows
    * the plan tree exponentially per generation — the driver OOM'd
    * merely STRINGIFYING it after four chained ingests. Cutting the
    * plan at ENTRY bounds every in-flight plan at one generation:
    * parquet-backed state (the deployment form) plans in milliseconds,
    * and an in-memory chained state pays one planning pass of
    * one-generation depth. `localCheckpoint(eager = false)` is the
    * same truncation connectedComponents applies to its edges; its
    * blocks also CACHE the state scans the ingest reads 2-3 times
    * each. It is not lazy: under AQE the call plans its input and runs
    * every query stage below it at call time — in a traced
    * `ingestBatch` over loaded state, one job each for shingles and
    * manifest (their loads anti-join the dead set) and none for the
    * three plain scans. Local-checkpoint blocks die with their
    * executor — the documented trade-off; cluster deployments feed
    * parquet state via [[loadState]] anyway — and the ContextCleaner
    * drops them once the frames are unreachable. */
  private def truncated(state: CorpusState): CorpusState =
    CorpusState(
      hashes = state.hashes.localCheckpoint(false),
      sigs = state.sigs.localCheckpoint(false),
      labels = state.labels.localCheckpoint(false),
      shingles = state.shingles.localCheckpoint(false),
      manifest = state.manifest.localCheckpoint(false))

  /** Land the state as five parquet tables IN FULL — the one-shot
    * snapshot form (bootstrap exports, probes). A RECURRING commit
    * must not use this: rewriting the corpus-sized witness tables per
    * ingest is O(corpus) I/O — the ingest loop commits O(batch) deltas
    * via [[graft.sources.StateStore.commitDelta]] instead. Writing
    * sigs/shingles to parquet (either way) is what makes the "corpus
    * text is read zero times per ingest" property literal. */
  def saveState(state: CorpusState, dir: String): Unit = {
    state.hashes.write.mode("overwrite").parquet(s"$dir/hashes")
    state.sigs.write.mode("overwrite").parquet(s"$dir/sigs")
    state.labels.write.mode("overwrite").parquet(s"$dir/labels")
    state.shingles.write.mode("overwrite").parquet(s"$dir/shingles")
    state.manifest.write.mode("overwrite").parquet(s"$dir/manifest")
  }

  def loadState(spark: SparkSession, dir: String): CorpusState =
    CorpusState(
      hashes = spark.read.parquet(s"$dir/hashes"),
      sigs = spark.read.parquet(s"$dir/sigs"),
      labels = spark.read.parquet(s"$dir/labels"),
      shingles = spark.read.parquet(s"$dir/shingles"),
      manifest = spark.read.parquet(s"$dir/manifest"))

  /** Capture incremental state from a full [[run]] over the initial
    * corpus — same manifest as `run`, plus the witness tables.
    *
    * The five pinned frames are materialized HERE, overlapped in
    * waves ([[Concurrently]]; they were only serial because the
    * ingest's first-touch jobs are issued by one driver thread, so
    * five cache fills queued behind each other while most cores
    * idled). Waves follow the dependency spine so shared persisted
    * parents fill once before concurrent children read them: hashes
    * first (fills the token-pass and gate caches), then sigs ∥ labels
    * (sigs fills exactDeduped), then shingles ∥ manifest (both read
    * the already-warm split/clean). Values are unchanged — the ingest
    * consumed every frame anyway; this only moves WHEN the cache fills
    * happen and lets them share the cluster.
    *
    * Once the waves have filled the five frames, the stage frames they
    * were computed from are unpersisted: the returned five are the
    * only cache entries this leaves, and the caller owns them
    * (unpersist them once the state is committed or replaced). */
  def bootstrapState(docs: DataFrame, cfg: Config = Config()): CorpusState = {
    val working = new Pins
    val kept = new Pins
    try {
      val st = runStages(docs, cfg, pin = working)
      val state = pinned(CorpusState(
        hashes = st.gated.select(col("__h").as("h")).distinct(),
        sigs = st.sigs,
        labels = st.labels,
        shingles = st.shippedShingles,
        manifest = st.manifest), kept)
      state.hashes.count()
      Concurrently.both(state.sigs.count(), state.labels.count())
      Concurrently.both(state.shingles.count(), state.manifest.count())
      release(working.frames.filterNot(f => kept.frames.exists(_ eq f)))
      state
    } catch { case e: Throwable => release(working.frames ++ kept.frames); throw e }
  }

  /** Ingest a NEW batch against maintained state — the corpus is never
    * re-read and never re-paired against itself, so one ingest costs
    * O(batch) plus the batch×corpus LSH candidates, regardless of how
    * large the corpus has grown.
    *
    * Semantics are forward-only: shipped docs are immutable except by
    * tombstone, and a doc once excluded is never re-admitted (the
    * pathological reverse — a new batch merging away the only test doc
    * a train doc leaked against — would need a replay from raw, which
    * the deterministic stages make possible offline). Under a
    * monotone-id ingest order (corpus ids < batch ids, the normal
    * append case) the live manifest after this call equals the full
    * [[run]] over corpus∪batch on (doc_id, split, lang, n_tokens) —
    * IncrementalPipelineSpec pins exactly that. Bin numbers differ by
    * design: incremental bins append after the group's historical max
    * (from the PRE-tombstone manifest, so a tombstoned doc's bin is
    * never reused while shard files may still contain it).
    *
    * Every frame this persists is recorded on the returned delta and
    * stays cached until [[IngestDelta.release]]; a call that throws
    * releases them itself. Callers that keep reading the delta's
    * frames after they return — chained in-memory ingests,
    * [[incrementalPipelineQ]] — do not release. */
  def runIncremental(inputState: CorpusState, batch: DataFrame,
                     cfg: Config = Config(),
                     probe: (String, DataFrame) => Unit = (_, _) => (),
                     preGated: Option[(DataFrame, DataFrame, DataFrame)] = None)
      : IngestDelta = {
    val pin = new Pins
    try ingest(inputState, batch, cfg, probe, preGated, pin)
    catch { case e: Throwable => release(pin.frames); throw e }
  }

  private def ingest(inputState: CorpusState, batch: DataFrame, cfg: Config,
                     probe: (String, DataFrame) => Unit,
                     preGated: Option[(DataFrame, DataFrame, DataFrame)],
                     pin: Pins): IngestDelta = {
    val state = truncated(inputState)
    // 1. quality gate (per-doc, identical to the full run; `preGated`
    // hands in the SAME gateStage frames when the caller pre-filled
    // them concurrently with other work — values identical by
    // construction, only the fill time moves)
    val (gated, tri, dec) = preGated.getOrElse(gateStage(batch, cfg, pin))
    probe("gate", gated)

    // 2. exact dedup: within batch, then against every hash ever seen.
    // The state table is the corpus-sized side — semi-reduce it with a
    // broadcast of the batch's hash set (state is SCANNED, never
    // shuffled; a plain left-anti would shuffle the whole table every
    // ingest), then anti-join the tiny overlap back. The broadcasts
    // encode the ingest contract: batch ≪ corpus.
    val batchDeduped = Curation.dedupKeepFirst(gated, col("text"), col("doc_id"))
    // localCheckpoint: seenHashes feeds TWO broadcast consumers (the
    // entrant anti-join and the hash-delta anti-join); un-cut, each
    // broadcast re-plans AND re-executes the corpus-hash scan — one
    // scan of the largest-cardinality state table per consumer. Not
    // lazy: under AQE the call runs the gate and the semi-join's query
    // stages at once (8 jobs in a traced `ingestBatch`).
    val seenHashes = state.hashes
      .join(broadcast(gated.select(col("__h").as("h")).distinct()), Seq("h"))
      .localCheckpoint(false)
    val entrants = pin(batchDeduped
      .join(broadcast(seenHashes), col("__h") === col("h"), "left_anti").drop("__h"))
    probe("exact_dedup", entrants)

    // 3. near-dup: batch×batch pairs + batch×corpus pairs + the prior
    // components replayed as star edges (id -> comp). CC over the union
    // merges components exactly: mins only ever decrease, so a shipped
    // canonical whose component gained a smaller min is now superseded.
    val entrantSigs = pin(Dedup.minhashStateFromHashes(
        tri.join(entrants.select(col("doc_id")), Seq("doc_id"))
          .select(col("doc_id").as("id"), col("h")),
        numPerm = 32, verifyK = cfg.verifyK))
    // batch×batch AND batch×corpus pairs from ONE band join over a
    // side-tagged union of signature states: the batch side probes,
    // every row builds; a batch-batch collision dedups with id_a <
    // id_b, a batch-corpus collision is kept as-is (the corpus never
    // self-pairs). One exact-Jaccard verify covers both families —
    // running the two pair generators separately measured ~2x the jobs
    // for identical output.
    val newEdges = {
      val unionSigs = entrantSigs
        .select(col("id"), col("hs"), col("sig"), lit(true).as("__batch"))
        .unionByName(state.sigs
          .select(col("id"), col("hs"), col("sig"), lit(false).as("__batch")))
      val banded = unionSigs.select(col("id"), col("__batch"),
        explode(Dedup.bandHashes(col("sig"), 32, cfg.lshBands)).as("band"))
      val cands = banded.filter(col("__batch"))
        .select(col("band"), col("id").as("id_a"))
        .join(banded.select(col("band").as("band_b"), col("id").as("id_b"),
            col("__batch").as("__batch_b")),
          col("band") === col("band_b") &&
            (!col("__batch_b") || col("id_a") < col("id_b")))
        .select(col("id_a"), col("id_b"))
        .dropDuplicates("id_a", "id_b")
      cands
        .join(unionSigs.select(col("id").as("id_a"), col("hs").as("hs_a")), "id_a")
        .join(unionSigs.select(col("id").as("id_b"), col("hs").as("hs_b")), "id_b")
        .filter(Dedup.jaccardOf(col("hs_a"), col("hs_b"), cfg.verifyK) >= cfg.nearDupThreshold)
        .select(col("id_a"), col("id_b"))
    // checkpoint, not persist: this plan gets embedded under the
    // touched/touchedComps BROADCAST nodes and into every CC-loop and
    // label consumer — persist dedups the EXECUTION but each action
    // still re-PLANS the full LSH tree (measured ~21s of pure driver
    // planning per ingest); the cut makes every downstream plan
    // shallow. Under AQE the call itself runs the band join's query
    // stages (12 jobs in a traced `ingestBatch`).
    }.localCheckpoint(false)
    // Delta-only CC: a prior component can only change if a new edge
    // touches one of its nodes (graphs merge through shared nodes and
    // nothing else), so replay star edges ONLY for touched components —
    // the CC input is O(batch edges + touched members), not O(all
    // components ever). Untouched labels pass through verbatim.
    val touched = newEdges.select(col("id_a").as("id"))
      .union(newEdges.select(col("id_b").as("id"))).distinct()
    val touchedComps = state.labels.join(broadcast(touched), Seq("id"))
      .select(col("comp")).distinct()
    val relevantStars = state.labels
      .join(broadcast(touchedComps), Seq("comp"))
      .filter(col("id") =!= col("comp"))
      .select(col("id").as("id_a"), col("comp").as("id_b"))
    val ccLabels = Dedup.connectedComponents(
      newEdges.union(relevantStars), "id_a", "id_b")
    val labels = state.labels
      .join(broadcast(touchedComps), Seq("comp"), "left_anti")
      .select(col("id"), col("comp"))
      .unionByName(ccLabels)
      .localCheckpoint(false) // same planning-cost cut as newEdges (3 jobs at call time)
    probe("lsh_cc", labels)
    val canonical = entrants
      .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .filter(col("comp").isNull || col("comp") === col("doc_id"))
      .drop("comp")
    val superseded = state.manifest.select(col("doc_id"))
      .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"))
      .filter(col("comp") =!= col("doc_id"))
      .select(col("doc_id"))

    // 4. split (a pure function of the id — re-runs agree by construction)
    val split = pin(TrainingOps.assignSplit(canonical, col("doc_id"),
      cfg.trainPct, cfg.valPct))
    probe("split", split)

    // 5. decontamination, both directions. Shingles of docs tombstoned
    // in step 3 are dead and must not witness leaks.
    val batchShingles = pin(dec
      .join(split.select(col("doc_id"), col("split")), Seq("doc_id"))
      .select(col("doc_id"), col("split"), col("h")).distinct())
    val liveOld = state.shingles
      .join(broadcast(superseded), Seq("doc_id"), "left_anti")
    val newTestH = batchShingles.filter(col("split") === "test")
      .select(col("h")).distinct()
    // new train docs leaking against any live test doc: dropped
    // pre-ship. Joined with the BATCH side broadcast so the
    // corpus-sized test-shingle scan is never shuffled (a distinct over
    // it would be a full-state shuffle per ingest); duplicate h matches
    // fan out bounded by docs-per-shingle and collapse in the distinct
    // over matched doc ids.
    val allTestH = liveOld.filter(col("split") === "test").select(col("h"))
      .union(batchShingles.filter(col("split") === "test").select(col("h")))
    val newTrainLeaks = allTestH
      .join(broadcast(batchShingles.filter(col("split") === "train")
        .select(col("doc_id"), col("h"))), Seq("h"))
      .select(col("doc_id")).distinct()
    // shipped train docs a NEW test doc now contaminates: tombstoned
    // (the corpus-sized shingle table is scanned against a broadcast of
    // the batch's test hashes — never shuffled)
    val decontaminated = liveOld.filter(col("split") === "train")
      .join(broadcast(newTestH), Seq("h"))
      .select(col("doc_id")).distinct()
    probe("decon", newTrainLeaks.unionByName(decontaminated))

    // 6. pack accepted docs into bins opening after each group's max
    val accepted = split.join(newTrainLeaks, Seq("doc_id"), "left_anti")
    val toks = accepted.select(col("split"), col("lang"), col("doc_id"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"))
    val offsets = state.manifest.groupBy(col("split"), col("lang"))
      .agg((max(col("bin")) + lit(1L)).as("__off"))
    val newRows = TrainingOps.packBinnedRanged(toks, struct(col("split"), col("lang")),
        col("doc_id"), col("n_tokens"), cfg.packCapacity)
      .join(broadcast(offsets), Seq("split", "lang"), "left")
      .withColumn("bin", col("bin") + coalesce(col("__off"), lit(0L)))
      .select(col("split"), col("lang"), col("bin"), col("doc_id"), col("n_tokens"))

    val pinnedRows = pin(newRows)
    probe("pack", pinnedRows)
    val pinnedTombs = pin(superseded.withColumn("reason", lit("superseded"))
      .unionByName(decontaminated.withColumn("reason", lit("decontaminated"))))
    val deadIds = pinnedTombs.select(col("doc_id"))

    // Every state update is append- or scan-shaped: the hash delta is
    // the batch's hashes minus the (already-broadcast-sized) overlap —
    // a union+distinct over the full corpus hash set would re-shuffle
    // the entire state every ingest for nothing. The deltas are also
    // returned as-is (StateDelta) so a commit can append THEM instead
    // of rewriting the unions.
    val newHashes = gated.select(col("__h").as("h")).distinct()
      .join(broadcast(seenHashes), Seq("h"), "left_anti")
    val newShingles = batchShingles
      .join(pinnedRows.select(col("doc_id")), Seq("doc_id"))
    val newState = pinned(CorpusState(
      hashes = state.hashes.unionByName(newHashes),
      sigs = state.sigs.unionByName(entrantSigs),
      labels = labels,
      // dead docs must not witness leaks, whichever way they died:
      // BOTH tombstone reasons leave the shingle state (a retained
      // decontaminated doc's shingles would re-emit tombstones for a
      // doc no longer in the manifest on every later test overlap)
      shingles = state.shingles
        .join(broadcast(deadIds), Seq("doc_id"), "left_anti")
        .unionByName(newShingles),
      manifest = state.manifest
        .join(broadcast(deadIds), Seq("doc_id"), "left_anti")
        .unionByName(pinnedRows)), pin)
    IngestDelta(pinnedRows, pinnedTombs, newState,
      StateDelta(newHashes, entrantSigs, newShingles))(pin.frames)
  }

  /** §2.5 capstone — the manifest over `documents`, ORACLE-BACKED
    * end-to-end: every stage is deterministic and SQL-replayable
    * (quality + repetition gates in plain arithmetic, normalized-md5
    * dedup, exact all-pairs Jaccard standing in for the 16x2 LSH by
    * the q_dedup_minhash parity argument, recursive-CTE connected
    * components, the PolyHash64 HUGEINT split replay, 8-gram-string
    * decontamination, and the integer-div packing window). The query
    * runs the 16x2 oracle-parity banding; the 8x4 scale default stays
    * for the library (TrainingPipelineSpec pins the composition's
    * invariants there). */
  def trainingPipelineQ(s: SparkSession, d: String): DataFrame =
    run(Tables.documents(s, d), Config(lshBands = 16))
      .orderBy(col("split"), col("lang"), col("bin"), col("doc_id"))

  /** §2.5 — the incremental ingest over the standard corpus/batch cut
    * (sources src15+ arrive as the new batch): every accepted row plus
    * every tombstone, one frame. ORACLE-BACKED since round 6: every
    * stage of both the bootstrap AND the ingest arithmetic is
    * deterministic and SQL-replayable, so DuckDB replays the corpus
    * pipeline (the proven q_training_pipeline fragments restricted to
    * src<15), then the ingest exactly as [[runIncremental]] defines it
    * — batch gates, batch-vs-corpus hash anti-join, the one-sided
    * near-dup candidate families (all-pairs Jaccard standing in for
    * the 16x2 banding by the q_dedup_minhash parity argument), prior
    * components replayed as star edges, supersession off the corpus
    * manifest, two-directional decontamination against the live
    * shingle state, and packing with per-(split,lang) bin offsets.
    * The query runs the 16x2 parity config on both phases; the 8x4
    * scale default stays for the library (IncrementalPipelineSpec
    * additionally proves full-run equivalence and both tombstone
    * paths there). */
  def incrementalPipelineQ(s: SparkSession, d: String): DataFrame = {
    val (corpus, batch) = CorpusOps.corpusBatchSplit(s, d)
    val cfg = Config(lshBands = 16)
    // The batch's gate is a pure function of the batch, so its cache
    // fill overlaps the corpus bootstrap ([[Concurrently]] — the
    // bootstrapState wave pattern, one level up): the ingest then
    // consumes the already-warm frames via preGated.
    // The returned frame reads the state and delta lazily, so nothing
    // here is released: it all stays cached for the session.
    val pre = gateStage(batch, cfg)
    val (st, _) = Concurrently.both(bootstrapState(corpus, cfg), pre._1.count())
    val delta = runIncremental(st, batch, cfg, preGated = Some(pre))
    delta.accepted
      .select(lit("add").as("action"), col("doc_id"), col("split"),
        col("lang"), col("bin"), col("n_tokens"))
      .unionByName(delta.tombstones
        .select(col("reason").as("action"), col("doc_id"),
          lit(null).cast("string").as("split"), lit(null).cast("string").as("lang"),
          lit(null).cast("long").as("bin"), lit(null).cast("long").as("n_tokens")))
      .orderBy(col("action"), col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_training_pipeline"    -> (trainingPipelineQ _),
    "q_incremental_pipeline" -> (incrementalPipelineQ _),
  )

  /** Bench diagnostic (round-14 verdict item 5): replay the capstone
    * with every stage boundary FORCED (count per probe) and timed, so
    * a driver-environment outlier on the heaviest query localizes to a
    * STAGE (gate / exact_dedup / lsh_cc / split / decon / pack)
    * instead of re-litigating the whole pipeline. Forcing changes plan
    * reuse, so these timings are diagnostic — the official per-query
    * number stays the un-probed run; the sum here is an upper bound.
    * `incremental = true` replays q_incremental_pipeline (bootstrap
    * measured as one block, then the per-stage probes);
    * false replays q_training_pipeline. */
  def stagedTimings(s: SparkSession, d: String,
                    incremental: Boolean): Seq[(String, Double)] = {
    val cfg = Config(lshBands = 16)
    val buf = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    var last = System.nanoTime()
    def mark(name: String): Unit = {
      val now = System.nanoTime(); buf += name -> (now - last) / 1e9; last = now
    }
    val probe: (String, DataFrame) => Unit = (name, df) => { df.count(); mark(name) }
    if (incremental) {
      val (corpus, batch) = CorpusOps.corpusBatchSplit(s, d)
      val st = bootstrapState(corpus, cfg)
      Seq(st.hashes, st.sigs, st.labels, st.shingles, st.manifest).foreach(_.count())
      mark("bootstrap")
      val delta = runIncremental(st, batch, cfg, probe)
      delta.accepted.count(); delta.tombstones.count()
      mark("finalize")
    } else {
      run(Tables.documents(s, d), cfg, probe).count()
      mark("finalize")
    }
    buf.toSeq
  }

  /** The whole corpus→shards flow replayed in DuckDB, stage by stage —
    * each CTE is the already-proven oracle fragment of its standalone
    * query (q_curation's gate, q_repetition_filter's stats,
    * q_dedup_minhash's all-pairs Jaccard, q_dedup_groups' recursive
    * CC, q_split_assign's HUGEINT hash replay, q_decontaminate's
    * 8-gram join, q_pack_sequences' packing window), composed in the
    * pipeline's load-bearing stage order. */
  val oracles: Map[String, String] = Map(
    "q_training_pipeline" ->
      s"""WITH RECURSIVE
         |w AS MATERIALIZED (
         |  SELECT doc_id, lang, text,
         |    regexp_split_to_array(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS ws
         |  FROM documents),
         |scored AS (
         |  SELECT doc_id FROM w
         |  WHERE 0.6 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / greatest(length(text), 1))
         |      + 0.4 * (CASE WHEN len(regexp_extract_all(text, '[A-Za-z0-9]+', 0)) BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.0 END) >= 0.55),
         |tok AS (SELECT doc_id, unnest(ws) AS t FROM w),
         |tc AS (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY 1, 2),
         |wq AS (SELECT doc_id, CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_frac FROM tc GROUP BY 1),
         |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS sh
         |       FROM w WHERE len(ws) >= 2),
         |bc AS (SELECT doc_id, sh, COUNT(*) AS c FROM bg GROUP BY 1, 2),
         |bq AS (SELECT doc_id, 1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS dup2_frac FROM bc GROUP BY 1),
         |gated AS MATERIALIZED (
         |  SELECT w.doc_id, w.lang, w.text, w.ws
         |  FROM w JOIN scored USING (doc_id) JOIN wq USING (doc_id) LEFT JOIN bq USING (doc_id)
         |  WHERE wq.top_frac <= 0.12 AND COALESCE(bq.dup2_frac, 0.0) <= 0.55),
         |dedup AS MATERIALIZED (
         |  SELECT doc_id, lang, text, ws FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
         |      ORDER BY doc_id) AS dr
         |    FROM gated) x
         |  WHERE dr = 1),
         |s3 AS MATERIALIZED (
         |  SELECT doc_id, list_distinct(list_transform(range(1, len(ws)-1),
         |    i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS sh
         |  FROM dedup WHERE len(ws) >= 3),
         |-- sparse all-pairs (identical output, ~260x faster in DuckDB;
         |-- see TextOps q_ngram_jaccard)
         |ex3 AS MATERIALIZED (SELECT doc_id, unnest(sh) AS t FROM s3),
         |sz3 AS MATERIALIZED (SELECT doc_id, len(sh) AS n FROM s3),
         |ic3 AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
         |        FROM ex3 a JOIN ex3 b ON a.t = b.t AND a.doc_id < b.doc_id
         |        GROUP BY 1, 2),
         |pr AS (
         |  SELECT id_a, id_b FROM ic3
         |  JOIN sz3 sa ON sa.doc_id = ic3.id_a
         |  JOIN sz3 sb ON sb.doc_id = ic3.id_b
         |  WHERE CAST(ic3.c AS DOUBLE) / (sa.n + sb.n - ic3.c) >= 0.5),
         |nodes AS (SELECT id_a AS id FROM pr UNION SELECT id_b FROM pr),
         |edges AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pr UNION SELECT id_b, id_a FROM pr),
         |cc(id, comp) AS (
         |  SELECT id, id AS comp FROM nodes
         |  UNION
         |  SELECT e.b AS id, cc.comp FROM cc JOIN edges e ON cc.id = e.a),
         |lab AS MATERIALIZED (SELECT id, MIN(comp) AS comp FROM cc GROUP BY id),
         |canon AS (
         |  SELECT d.* FROM dedup d LEFT JOIN lab ON d.doc_id = lab.id
         |  WHERE lab.id IS NULL OR lab.comp = d.doc_id),
         |spl AS MATERIALIZED (${TrainingOps.splitSql}),
         |cs AS MATERIALIZED (
         |  SELECT c.doc_id, c.lang, c.text, c.ws, spl.split
         |  FROM canon c JOIN spl USING (doc_id)),
         |s8 AS MATERIALIZED (
         |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws)-6),
         |    i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3], ws[i+4], ws[i+5], ws[i+6], ws[i+7])))) AS sh
         |  FROM cs WHERE len(ws) >= 8),
         |leaks AS MATERIALIZED (
         |  SELECT DISTINCT tr.doc_id
         |  FROM (SELECT s8.doc_id, s8.sh FROM s8 JOIN cs USING (doc_id)
         |        WHERE cs.split = 'train') tr
         |  JOIN (SELECT DISTINCT s8.sh FROM s8 JOIN cs USING (doc_id)
         |        WHERE cs.split = 'test') te
         |    ON tr.sh = te.sh),
         |clean AS MATERIALIZED (
         |  SELECT cs.* FROM cs
         |  WHERE NOT EXISTS (SELECT 1 FROM leaks WHERE leaks.doc_id = cs.doc_id)),
         |toks AS (
         |  SELECT split, lang, doc_id,
         |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+', 0)) AS BIGINT) AS n_tokens
         |  FROM clean),
         |binned AS (
         |  SELECT split, lang, doc_id, n_tokens,
         |    CAST(COALESCE(SUM(n_tokens) OVER (
         |      PARTITION BY split, lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048 AS BIGINT) AS bin
         |  FROM toks)
         |SELECT split, lang, bin, doc_id, n_tokens
         |FROM binned
         |ORDER BY split, lang, bin, doc_id""".stripMargin,

    // The incremental ingest replayed end-to-end: the corpus bootstrap
    // is the full-pipeline replay above restricted to src<15 (each CTE
    // prefixed c*), then the ingest arithmetic EXACTLY as
    // runIncremental composes it. All-pairs Jaccard stands in for the
    // 16x2 banding on every candidate family (batch×batch AND
    // batch×corpus) by the q_dedup_minhash parity argument; prior
    // corpus components enter the new CC as star edges (id, comp) —
    // replaying ALL stars is equivalent to the delta-only Spark path
    // because an untouched component's min-label fixpoint IS its
    // stored comp. Supersession, two-directional decon against the
    // live (non-superseded) shingle state, and bin offsets off the
    // PRE-tombstone corpus manifest all mirror the Scala stage by
    // stage.
    "q_incremental_pipeline" ->
      s"""WITH RECURSIVE
         |w AS MATERIALIZED (
         |  SELECT doc_id, lang, text, CAST(substr(source, 4) AS INTEGER) AS src_n,
         |    regexp_split_to_array(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS ws
         |  FROM documents),
         |scored AS (
         |  SELECT doc_id FROM w
         |  WHERE 0.6 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / greatest(length(text), 1))
         |      + 0.4 * (CASE WHEN len(regexp_extract_all(text, '[A-Za-z0-9]+', 0)) BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.0 END) >= 0.55),
         |tok AS (SELECT doc_id, unnest(ws) AS t FROM w),
         |tc AS (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY 1, 2),
         |wq AS (SELECT doc_id, CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_frac FROM tc GROUP BY 1),
         |bg2 AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS sh
         |        FROM w WHERE len(ws) >= 2),
         |bc2 AS (SELECT doc_id, sh, COUNT(*) AS c FROM bg2 GROUP BY 1, 2),
         |bq2 AS (SELECT doc_id, 1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS dup2_frac FROM bc2 GROUP BY 1),
         |gated AS MATERIALIZED (
         |  SELECT w.doc_id, w.lang, w.text, w.ws, w.src_n,
         |    md5(lower(regexp_replace(trim(w.text), '\\s+', ' ', 'g'))) AS h
         |  FROM w JOIN scored USING (doc_id) JOIN wq USING (doc_id) LEFT JOIN bq2 USING (doc_id)
         |  WHERE wq.top_frac <= 0.12 AND COALESCE(bq2.dup2_frac, 0.0) <= 0.55),
         |spl AS MATERIALIZED (${TrainingOps.splitSql}),
         |-- ======== corpus bootstrap (full pipeline over src < 15) ========
         |cg AS MATERIALIZED (SELECT * FROM gated WHERE src_n < 15),
         |chashes AS (SELECT DISTINCT h FROM cg),
         |cdedup AS MATERIALIZED (
         |  SELECT doc_id, lang, text, ws FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS dr FROM cg) x
         |  WHERE dr = 1),
         |cs3 AS MATERIALIZED (
         |  SELECT doc_id, list_distinct(list_transform(range(1, len(ws)-1),
         |    i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS sh
         |  FROM cdedup WHERE len(ws) >= 3),
         |-- sparse all-pairs throughout (identical output, ~260x faster
         |-- in DuckDB; see TextOps q_ngram_jaccard)
         |cex AS MATERIALIZED (SELECT doc_id, unnest(sh) AS t FROM cs3),
         |csz AS MATERIALIZED (SELECT doc_id, len(sh) AS n FROM cs3),
         |cic AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
         |        FROM cex a JOIN cex b ON a.t = b.t AND a.doc_id < b.doc_id
         |        GROUP BY 1, 2),
         |cpr AS MATERIALIZED (
         |  SELECT id_a, id_b FROM cic
         |  JOIN csz sa ON sa.doc_id = cic.id_a
         |  JOIN csz sb ON sb.doc_id = cic.id_b
         |  WHERE CAST(cic.c AS DOUBLE) / (sa.n + sb.n - cic.c) >= 0.5),
         |cnodes AS (SELECT id_a AS id FROM cpr UNION SELECT id_b FROM cpr),
         |cedges AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM cpr UNION SELECT id_b, id_a FROM cpr),
         |ccc(id, comp) AS (
         |  SELECT id, id AS comp FROM cnodes
         |  UNION
         |  SELECT e.b AS id, ccc.comp FROM ccc JOIN cedges e ON ccc.id = e.a),
         |clab AS MATERIALIZED (SELECT id, MIN(comp) AS comp FROM ccc GROUP BY id),
         |ccanon AS (
         |  SELECT d.* FROM cdedup d LEFT JOIN clab ON d.doc_id = clab.id
         |  WHERE clab.id IS NULL OR clab.comp = d.doc_id),
         |ccs AS MATERIALIZED (
         |  SELECT c.doc_id, c.lang, c.text, c.ws, spl.split
         |  FROM ccanon c JOIN spl USING (doc_id)),
         |cs8 AS MATERIALIZED (
         |  SELECT doc_id, split, unnest(list_distinct(list_transform(range(1, len(ws)-6),
         |    i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3], ws[i+4], ws[i+5], ws[i+6], ws[i+7])))) AS sh
         |  FROM ccs WHERE len(ws) >= 8),
         |cleaks AS (
         |  SELECT DISTINCT tr.doc_id
         |  FROM (SELECT doc_id, sh FROM cs8 WHERE split = 'train') tr
         |  JOIN (SELECT DISTINCT sh FROM cs8 WHERE split = 'test') te ON tr.sh = te.sh),
         |cclean AS MATERIALIZED (
         |  SELECT ccs.* FROM ccs
         |  WHERE NOT EXISTS (SELECT 1 FROM cleaks WHERE cleaks.doc_id = ccs.doc_id)),
         |cman AS MATERIALIZED (
         |  SELECT split, lang, doc_id, n_tokens,
         |    CAST(COALESCE(SUM(n_tokens) OVER (
         |      PARTITION BY split, lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048 AS BIGINT) AS bin
         |  FROM (SELECT split, lang, doc_id,
         |          CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+', 0)) AS BIGINT) AS n_tokens
         |        FROM cclean) t),
         |cship AS MATERIALIZED (
         |  SELECT s.doc_id, s.split, s.sh FROM cs8 s
         |  WHERE EXISTS (SELECT 1 FROM cclean c WHERE c.doc_id = s.doc_id)),
         |-- ======== the ingest (batch = src >= 15) ========
         |bgat AS (SELECT * FROM gated WHERE src_n >= 15),
         |bdedup AS (
         |  SELECT doc_id, lang, text, ws, h FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS dr FROM bgat) x
         |  WHERE dr = 1),
         |entrants AS MATERIALIZED (
         |  SELECT b.* FROM bdedup b
         |  WHERE NOT EXISTS (SELECT 1 FROM chashes c WHERE c.h = b.h)),
         |es3 AS MATERIALIZED (
         |  SELECT doc_id, list_distinct(list_transform(range(1, len(ws)-1),
         |    i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS sh
         |  FROM entrants WHERE len(ws) >= 3),
         |eex AS MATERIALIZED (SELECT doc_id, unnest(sh) AS t FROM es3),
         |esz AS MATERIALIZED (SELECT doc_id, len(sh) AS n FROM es3),
         |bic AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
         |        FROM eex a JOIN eex b ON a.t = b.t AND a.doc_id < b.doc_id
         |        GROUP BY 1, 2),
         |xic AS (SELECT e.doc_id AS id_a, c.doc_id AS id_b, COUNT(*) AS c
         |        FROM eex e JOIN cex c ON e.t = c.t
         |        GROUP BY 1, 2),
         |bpr AS MATERIALIZED (
         |  SELECT id_a, id_b FROM bic
         |  JOIN esz sa ON sa.doc_id = bic.id_a
         |  JOIN esz sb ON sb.doc_id = bic.id_b
         |  WHERE CAST(bic.c AS DOUBLE) / (sa.n + sb.n - bic.c) >= 0.5
         |  UNION
         |  SELECT id_a, id_b FROM xic
         |  JOIN esz se ON se.doc_id = xic.id_a
         |  JOIN csz sc ON sc.doc_id = xic.id_b
         |  WHERE CAST(xic.c AS DOUBLE) / (se.n + sc.n - xic.c) >= 0.5),
         |stars AS MATERIALIZED (SELECT id AS a, comp AS b FROM clab WHERE id <> comp),
         |inodes AS (SELECT id_a AS id FROM bpr UNION SELECT id_b FROM bpr
         |           UNION SELECT a FROM stars UNION SELECT b FROM stars),
         |iedges AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM bpr UNION SELECT id_b, id_a FROM bpr
         |           UNION SELECT a, b FROM stars UNION SELECT b, a FROM stars),
         |icc(id, comp) AS (
         |  SELECT id, id AS comp FROM inodes
         |  UNION
         |  SELECT e.b AS id, icc.comp FROM icc JOIN iedges e ON icc.id = e.a),
         |ilab AS MATERIALIZED (SELECT id, MIN(comp) AS comp FROM icc GROUP BY id),
         |bcanon AS (
         |  SELECT e.* FROM entrants e LEFT JOIN ilab ON e.doc_id = ilab.id
         |  WHERE ilab.id IS NULL OR ilab.comp = e.doc_id),
         |superseded AS MATERIALIZED (
         |  SELECT m.doc_id FROM cman m JOIN ilab ON m.doc_id = ilab.id
         |  WHERE ilab.comp <> m.doc_id),
         |bspl AS MATERIALIZED (
         |  SELECT b.doc_id, b.lang, b.text, b.ws, spl.split
         |  FROM bcanon b JOIN spl USING (doc_id)),
         |bs8 AS MATERIALIZED (
         |  SELECT doc_id, split, unnest(list_distinct(list_transform(range(1, len(ws)-6),
         |    i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3], ws[i+4], ws[i+5], ws[i+6], ws[i+7])))) AS sh
         |  FROM bspl WHERE len(ws) >= 8),
         |liveold AS MATERIALIZED (
         |  SELECT c.* FROM cship c
         |  WHERE NOT EXISTS (SELECT 1 FROM superseded s WHERE s.doc_id = c.doc_id)),
         |newtesth AS MATERIALIZED (SELECT DISTINCT sh FROM bs8 WHERE split = 'test'),
         |alltesth AS (SELECT sh FROM liveold WHERE split = 'test'
         |             UNION SELECT sh FROM newtesth),
         |newtrainleaks AS (
         |  SELECT DISTINCT b.doc_id FROM bs8 b
         |  WHERE b.split = 'train'
         |    AND EXISTS (SELECT 1 FROM alltesth t WHERE t.sh = b.sh)),
         |decontaminated AS (
         |  SELECT DISTINCT l.doc_id FROM liveold l
         |  WHERE l.split = 'train'
         |    AND EXISTS (SELECT 1 FROM newtesth t WHERE t.sh = l.sh)),
         |accepted AS (
         |  SELECT b.* FROM bspl b
         |  WHERE NOT EXISTS (SELECT 1 FROM newtrainleaks n WHERE n.doc_id = b.doc_id)),
         |offs AS (SELECT split, lang, MAX(bin) + 1 AS off FROM cman GROUP BY 1, 2),
         |bman AS (
         |  SELECT t.split, t.lang, t.doc_id, t.n_tokens,
         |    CAST(t.rel + COALESCE(o.off, 0) AS BIGINT) AS bin
         |  FROM (
         |    SELECT split, lang, doc_id, n_tokens,
         |      COALESCE(SUM(n_tokens) OVER (
         |        PARTITION BY split, lang ORDER BY doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048 AS rel
         |    FROM (SELECT split, lang, doc_id,
         |            CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+', 0)) AS BIGINT) AS n_tokens
         |          FROM accepted) t0) t
         |  LEFT JOIN offs o ON t.split = o.split AND t.lang = o.lang)
         |SELECT action, doc_id, split, lang, bin, n_tokens FROM (
         |  SELECT 'add' AS action, doc_id, split, lang, bin, n_tokens FROM bman
         |  UNION ALL
         |  SELECT 'superseded', doc_id, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
         |    CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) FROM superseded
         |  UNION ALL
         |  SELECT 'decontaminated', doc_id, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
         |    CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) FROM decontaminated) u
         |ORDER BY action, doc_id""".stripMargin,
  )
}
