package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Second text-analysis batch: TF-IDF term weighting and PII redaction
  * — corpus-statistics and scrubbing stages of a training-data
  * pipeline.
  */
object TextOps2 {

  /** ASCII word tokens, lowercased. Restricted to the regex subset with
    * identical semantics in Spark (Java regex) and DuckDB (RE2). */
  private val TokenPattern = "[a-z0-9]+"

  /** q_tfidf — top-3 terms per document by smoothed TF-IDF.
    *
    * Document frequency is aggregated from the TF rows and BROADCAST
    * back: the df table is |vocab| rows (bounded), the broadcast join
    * adds no shuffle of the TF rows, and partial aggregation shrinks
    * the df shuffle map-side — measured faster than a count-over-token
    * window, which re-shuffles every TF row without partial agg.
    * The score uses the rational form tf * (N+1)/(df+1) — a deliberate
    * variant of log TF-IDF chosen for exact cross-engine
    * representability (ln() is NOT guaranteed identical across libm
    * implementations). It is NOT order-equivalent to tf * log-idf:
    * e.g. (tf=1, ratio=100) vs (tf=10, ratio=2) rank differently under
    * the two forms. Parity holds because the oracle computes the
    * identical rational score. */
  def tfidfQ(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    val tokens = docs.select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit(TokenPattern), lit(0))).as("token"))
    val tf = tokens.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token"))
    tf.join(broadcast(dfreq), "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf").cast(DoubleType) * (col("n_docs") + 1) / (col("df") + 1))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("token"), col("tf"), col("df"), col("score"), col("rn"))
      .orderBy(col("doc_id"), col("rn"))
  }

  /** Email + phone scrubbing. Pattern subset chosen for identical
    * Java-regex/RE2 semantics: char classes, +/{m,}, no lookaround. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"

  def redact(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailPattern, "<EMAIL>"),
      PhonePattern, "<PHONE>")

  /** Luhn checksum over a digit string (SURVEY.md §2 row 246) — pure
    * column ops: right-to-left positional doubling with the >9
    * subtract-9 fold, mod 10. */
  def luhnValid(s: Column): Column = {
    val L = length(s)
    val total = aggregate(
      sequence(lit(1), L),
      lit(0),
      (acc, i) => {
        val d = s.substr(i, lit(1)).cast(IntegerType)
        val dd = when(pmod(L - i, lit(2)) === 1,
            when(d * 2 > 9, d * 2 - 9).otherwise(d * 2))
          .otherwise(d)
        acc + dd
      })
    pmod(total, lit(10)) === 0
  }

  /** Checksum-validated card redaction — the precision upgrade over
    * the row-60 regex scrub: a bare 13–19-digit regex redacts every
    * order id and tracking number it meets; the Luhn gate keeps only
    * candidates that are arithmetically POSSIBLE card numbers (all
    * real card schemes are Luhn-valid), cutting the false-positive
    * rate ~10× (a random digit run passes 1-in-10). Candidates are
    * contiguous digit runs (documented; separator-tolerant matching
    * is a pattern swap); replacement folds the VALID list over the
    * text — per-row arrays, zero shuffles, no UDF. */
  def luhnRedact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val cands = regexp_extract_all(col(textCol), lit("[0-9]{13,19}"), lit(0))
    val valid = filter(cands, c => luhnValid(c))
    // digit-only candidates are regex-safe; [CARD] is literal in a
    // replacement (no $ or backslash)
    val redacted = aggregate(valid, col(textCol),
      (acc, c) => regexp_replace(acc, c, lit("[CARD]")))
    docs.select(col(idCol).cast(LongType).as("doc_id"),
      size(cands).cast(LongType).as("n_candidates"),
      size(valid).cast(LongType).as("n_valid"),
      redacted.as("text_redacted"))
  }

  /** §2 row 246 — four seedings in both engines: a valid Visa test
    * number (redacted), a one-digit-off invalid twin (kept — the
    * gate's whole point), a valid 15-digit Amex (redacted), and an
    * 11-digit Luhn-valid run (too short — never a candidate). */
  def luhnRedactQ(s: SparkSession, d: String): DataFrame = {
    val seeded = Tables.documents(s, d).select(col("doc_id"),
      when(pmod(col("doc_id"), lit(8)) === 0,
          concat(col("text"), lit(" card 4111111111111111 on file")))
        .when(pmod(col("doc_id"), lit(8)) === 1,
          concat(col("text"), lit(" order 4111111111111112 shipped")))
        .when(pmod(col("doc_id"), lit(8)) === 2,
          concat(col("text"), lit(" amex 371449635398431 ok")))
        .when(pmod(col("doc_id"), lit(8)) === 3,
          concat(col("text"), lit(" ref 79927398713 short")))
        .otherwise(col("text")).as("text"))
    luhnRedact(seeded, "doc_id", "text").orderBy(col("doc_id"))
  }

  /** q_redact — redacted length + change flag per doc (the corpus is
    * synthetic prose, so most rows are unchanged — the oracle still
    * pins the regex semantics end-to-end). */
  def redactQ(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        length(redact(col("text"))).cast(LongType).as("redacted_len"),
        (redact(col("text")) =!= col("text")).as("changed"))
      .orderBy(col("doc_id"))

  /** Fixed retrieval workload for q_bm25: literal query strings over
    * the corpus vocabulary — constants, so the workload is replayable
    * by construction. */
  private[graft] val Bm25Queries: Seq[(Long, String)] = Seq(
    (1L, "table scan fast"),
    (2L, "customer order value"),
    (3L, "spark window merge"))

  /** §2 row 111 — BM25 document retrieval (Robertson/Spärck Jones),
    * top-10 docs per query.
    *
    * Cross-engine parity without `ln()` (the q_tfidf problem, one
    * level up): idf uses the RATIONAL Lucene-shaped form NORMALIZED by
    * the corpus size — `(1 + (N − df + 0.5)/(df + 0.5)) / (N + 1)`,
    * always in (0, 1] — and the per-term score, idf_n · tf·(k1+1)/(tf
    * + k1·(1 − b + b·dl/avgdl)) with k1=1.2 b=0.75, is computed in
    * doubles whose expression SHAPE is pinned op-for-op against the
    * oracle (every step a single IEEE-754 op on identical inputs),
    * then floored to a 1e-15-granular LONG. Summing over matched
    * terms happens on the INTEGER image, so the doc score is
    * independent of float summation order — the row-104
    * integer-score-image trick applied to additive retrieval scoring.
    * The normalization is a per-corpus positive constant, so within a
    * query it never changes the real-valued ranking; what it buys is
    * an OVERFLOW-FREE image at any corpus size: per-term image ≤
    * (k1+1)·1e15 = 2.2e15 (inside double's 2^53 exact-integer range),
    * and the summed image stays under Long.Max for queries up to
    * ~4000 distinct terms — the unnormalized 1e9 image would wrap a
    * Long at N ≈ 5e9 docs and silently invert rankings.
    *
    * Scale shape — the signature-table posture: [[buildBm25Postings]]
    * tokenizes the corpus ONCE into a persisted postings table
    * (doc_id, token, tf, dl) + a 1-row stats table; every query then
    * runs [[bm25FromPostings]] against those tables and never touches
    * the corpus text again (a deployment buckets the postings by
    * token, so a query's reads prune to its terms' buckets). Query
    * terms are a broadcast; df comes from the query-RESTRICTED
    * postings (a |query-terms|-row broadcast — a corpus-wide
    * vocabulary df table is not broadcastable); top-k per query runs
    * on the k-bounded [[graft.functions.MinKByLong]] aggregator (via
    * [[PqIndex.topKByD2]]), never a corpus-wide window. */
  def bm25Q(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val (postings, stats) = buildBm25Postings(docs, col("doc_id"), col("text"))
    bm25FromPostings(s, postings, stats, Bm25Queries, k = 10)
  }

  /** The persisted retrieval index: postings (doc_id, token, tf, dl)
    * and a 1-row stats frame (n_docs, tot_dl). Built once per corpus,
    * written as tables, fed back via [[bm25FromPostings]] — the same
    * maintain-state-not-rescan family as `Dedup.signatureTable` and
    * `SemDedup.assignmentTable`. `n_docs` counts the DOCS frame (a
    * token-free doc contributes to N and avgdl but has no postings
    * row), which is why stats ride along instead of being re-derived
    * from postings at read time. */
  def buildBm25Postings(docs: DataFrame, idCol: Column, textCol: Column): (DataFrame, DataFrame) = {
    // persisted: tf feeds BOTH the postings window and the stats
    // tot_dl aggregate — unpinned, the corpus text is tokenized twice
    // per index build (call-lifetime entry, the minhashNearDups
    // posture; the harnesses clear caches per query)
    val tf = docs.select(idCol.as("doc_id"),
        explode(regexp_extract_all(lower(textCol), lit(TokenPattern), lit(0))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // dl rides a doc_id-partitioned window over tf instead of the old
    // groupBy-then-join-back: one exchange of the tf frame instead of
    // two (guide §2.4 — two operations keyed the same way share one
    // exchange). Identical values (the same long sum per doc).
    val postings = tf.withColumn("dl",
        sum(col("tf")).over(Window.partitionBy(col("doc_id"))))
      .select(col("doc_id"), col("token"), col("tf"), col("dl"))
    // tot_dl = Σ_docs dl = Σ tf — same long, one less pass over dlen
    val stats = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(tf.agg(sum(col("tf")).as("tot_dl")))
    (postings, stats)
  }

  /** Every batch's postings + stats in ONE pass, tagged by the batch
    * key: postings rows are per-doc (tf and dl never look outside the
    * document), and the stats counters are per-batch additive — so
    * building all batches from one tokenize is row-identical to
    * building each batch separately ([[graft.operators.Bm25State]]'s
    * disjointness argument, applied at build time). `batchCol` must be
    * a pure function of the doc row (a doc lives in exactly one
    * batch). Returns (postings (ingest, doc_id, token, tf, dl),
    * stats (ingest, n_docs, tot_dl)). */
  def buildBm25PostingsBatched(docs: DataFrame, idCol: Column, textCol: Column,
                               batchCol: Column): (DataFrame, DataFrame) = {
    val base = docs.select(batchCol.as("ingest"), idCol.as("doc_id"),
      textCol.as("__text"))
    // persisted for the same two-consumer reason as buildBm25Postings
    // (postings window + per-batch stats agg), and because the postings
    // and stats WRITES are separate actions in the state-commit path
    val tf = base.select(col("ingest"), col("doc_id"),
        explode(regexp_extract_all(lower(col("__text")), lit(TokenPattern), lit(0))).as("token"))
      .groupBy(col("ingest"), col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val postings = tf.withColumn("dl",
        sum(col("tf")).over(Window.partitionBy(col("ingest"), col("doc_id"))))
      .select(col("ingest"), col("doc_id"), col("token"), col("tf"), col("dl"))
    val stats = base.groupBy(col("ingest")).agg(count(lit(1)).as("n_docs"))
      .join(tf.groupBy(col("ingest")).agg(sum(col("tf")).as("tot_dl")),
        Seq("ingest"), "left")
      .select(col("ingest"), col("n_docs"),
        coalesce(col("tot_dl"), lit(0L)).as("tot_dl"))
    (postings, stats)
  }

  /** Score fixed query strings against a postings/stats index — zero
    * corpus-text access. See [[bm25Q]] for the parity math. */
  def bm25FromPostings(s: SparkSession, postings: DataFrame, stats: DataFrame,
                       queriesSeq: Seq[(Long, String)], k: Int): DataFrame = {
    import s.implicits._
    val qt = queriesSeq.toDF("qid", "qtext")
      .select(col("qid"), explode(regexp_extract_all(lower(col("qtext")),
        lit(TokenPattern), lit(0))).as("token"))
      .distinct()
    // restrict FIRST, then derive df from the restricted frame: df of
    // a query term is the number of docs carrying it, same value a
    // vocabulary-wide table would give, at |query terms| rows. The
    // restriction for df uses the DISTINCT token list — restricting by
    // (qid, token) would double-count a doc once per query sharing
    // the token
    val qtok = qt.select(col("token")).distinct()
    // ONE structural scan of the postings: restrict to query terms
    // first, then df-per-token rides a token-partitioned window over
    // the restricted frame (count of (doc, token) rows = docs carrying
    // the token — identical to the old separate aggregate + join-back,
    // which re-ran the whole postings derivation under the df
    // broadcast). NOT a persist of the restricted frame: a plan-keyed
    // cache of a STATE-DIR read returns STALE rows when a later batch
    // lands under the same path and a fresh read's plan cache-matches
    // (Bm25StateSpec pins the regression); the window form needs no
    // cache, no second join, and keeps the scan (and its partition
    // pruning) visible in the plan.
    val restricted = postings.join(broadcast(qtok), "token")
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("token"))))
    val pq = restricted.join(broadcast(qt), "token")
    val nd = col("n_docs").cast(DoubleType)
    val dfd = col("df").cast(DoubleType)
    val tfd = col("tf").cast(DoubleType)
    val r = col("dl").cast(DoubleType) / (col("tot_dl").cast(DoubleType) / nd)
    val idfN = (lit(1.0d) + (nd - dfd + lit(0.5d)) / (dfd + lit(0.5d))) / (nd + lit(1.0d))
    val sat = (tfd * lit(2.2d)) / (tfd + lit(1.2d) * (lit(0.25d) + lit(0.75d) * r))
    val summed = pq
      .crossJoin(broadcast(stats))
      .select(col("qid"), col("doc_id"),
        floor((idfN * sat) * lit(1.0e15d)).as("s_i"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("s_i")).as("score_i"))
    // top-k per query, descending score: the shared k-bounded top-k
    // on the negated image (scores are >= 0, negation cannot wrap)
    PqIndex.topKByD2(
        summed.select(col("qid"), col("doc_id").as("cid"),
          (-col("score_i")).as("adc_d2")), k)
      .select(col("qid"), col("cid").as("doc_id"),
        (-col("adc_d2")).as("score_i"), col("rn"))
      .orderBy(col("qid"), col("rn"))
  }

  /** Pseudo-relevance-feedback query expansion (SURVEY.md §2 row 190)
    * — the RM3-family trick: assume the top-k BM25 hits are relevant,
    * mine the terms that characterize that feedback set, and expand
    * the query with them (Lavrenko & Croft 2001; Lucene's MoreLikeThis
    * is the same move). Vocabulary-mismatch repair without any model:
    * a query about "scan" learns the corpus says "filter" too.
    *
    * Expansion scoring is the integer core: per (query, term), score =
    * Σ tf over the feedback docs (the RM1 estimate's numerator on a
    * uniform feedback prior — exact, order-free), original query terms
    * excluded; top-m by (score DESC, term ASC). The probabilistic
    * normalizations are per-query positive constants — display-time.
    *
    * Scale shape: feedback docs are k-bounded per query, so the
    * tf join fans out |queries|·k·doc-length — corpus-independent;
    * the postings side arrives keyed on doc_id (one equi-join against
    * the k-row broadcast feedback list); the per-query rank window
    * rides a feedback-vocabulary-bounded frame. */
  def prfExpansion(s: SparkSession, postings: DataFrame, stats: DataFrame,
                   queriesSeq: Seq[(Long, String)], k: Int, m: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val fb = bm25FromPostings(s, postings, stats, queriesSeq, k)
      .select(col("qid"), col("doc_id"))
    val qterms = queriesSeq.toDF("qid", "qtext")
      .select(col("qid"), explode(regexp_extract_all(lower(col("qtext")),
        lit(TokenPattern), lit(0))).as("token"))
      .distinct()
    val scores = postings
      .join(broadcast(fb), Seq("doc_id"))
      .groupBy(col("qid"), col("token"))
      .agg(sum(col("tf")).as("score"), count(lit(1)).as("df_fb"))
      .join(broadcast(qterms), Seq("qid", "token"), "left_anti")
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("token"))
    scores.withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= m)
      .select(col("qid"), col("token"), col("score"), col("df_fb"), col("rn"))
  }

  /** §2 row 190 — top-5 expansion terms from 10 feedback docs for the
    * standard query workload. */
  def prfQ(s: SparkSession, d: String): DataFrame = {
    val (postings0, stats) =
      buildBm25Postings(Tables.documents(s, d), col("doc_id"), col("text"))
    // postings feed TWO consumers (the BM25 feedback ranking and the
    // expansion-term scoring join); pinned, the corpus tokenizes once
    // — the deployment form reads a parquet postings table here, so
    // this only mirrors that shape for the in-memory query
    val postings = postings0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    prfExpansion(s, postings, stats, Bm25Queries, k = 10, m = 5)
      .orderBy(col("qid"), col("rn"))
  }

  /** Exact-rational readability scoring (SURVEY.md §2 row 218) — the
    * Automated Readability Index as an integer fraction: ARI was
    * DESIGNED integer-computable (Senter & Smith 1967 — characters
    * per word + words per sentence, no syllable counting), which
    * makes it the readability member that fits the repo's exactness
    * contract: ARI = 4.71·C/W + 0.5·W/S − 21.43 becomes the pair
    *   ari_num = 471·C·S + 50·W² − 2143·W·S,  ari_den = 100·W·S
    * with ONE pinned division for the display double. Readability is
    * a standing curation feature (too-low = fragment soup, too-high =
    * generated/boilerplate legalese). C counts letters+digits (the
    * ARI definition), W the row-111 tokens, S the [.!?]+ terminator
    * groups with the DOCUMENTED punctuation-less fallback S = 1 (a
    * fragment corpus is one long sentence, not NULL). W = 0 → NULL
    * (kappa posture). Pure per-row codegen'd projection, zero
    * shuffles; overflow needs C·S < 2^63/471 — per-document scale,
    * unreachable. */
  def readability(docs: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val c = (length(textCol) -
      length(regexp_replace(textCol, "[A-Za-z0-9]", ""))).cast(LongType)
    val w = size(regexp_extract_all(textCol, lit("[A-Za-z0-9]+"), lit(0)))
      .cast(LongType)
    val s0 = size(regexp_extract_all(textCol, lit("[.!?]+"), lit(0))).cast(LongType)
    val sct = greatest(s0, lit(1L))
    docs.select(idCol.as("doc_id"), c.as("n_chars_ari"), w.as("n_words"),
        sct.as("n_sentences"))
      .withColumn("ari_num",
        lit(471L) * col("n_chars_ari") * col("n_sentences") +
          lit(50L) * col("n_words") * col("n_words") -
          lit(2143L) * col("n_words") * col("n_sentences"))
      .withColumn("ari_den", lit(100L) * col("n_words") * col("n_sentences"))
      .withColumn("ari", when(col("n_words") === 0L, lit(null))
        .otherwise(col("ari_num").cast(DoubleType) /
          col("ari_den").cast(DoubleType)))
  }

  /** §2 row 218 — ARI over documents. */
  def readabilityQ(s: SparkSession, d: String): DataFrame =
    readability(Tables.documents(s, d), col("doc_id"), col("text"))
      .orderBy(col("doc_id"))

  /** Type-token-ratio lexical-diversity gate (SURVEY.md §2 row 270) —
    * the cheapest member of the Gopher-style repetition family (its
    * heavy siblings are rows 76/135): n_types/n_tokens in ppm over
    * the lowercased whitespace tokens, computed per row with
    * array_distinct (NO shuffle — the whole gate is a codegen'd
    * projection, unlike the corpus-keyed rows 44/76). Low TTR =
    * keyword stuffing / template loops / boilerplate; the flag is
    * ttr_ppm < minPpm. Empty docs yield NULL ratio + NULL flag (the
    * kappa empty-denominator posture). */
  def ttrGate(docs: DataFrame, idCol: Column, textCol: Column,
              minPpm: Long): DataFrame = {
    // NULL text folds into the empty-doc posture via the shared
    // null-guarded tokenizer: otherwise legacy size(NULL) = -1 turns
    // n_tokens/-1 into a 1000000-ppm phantom instead of the NULL ratio.
    val toks = graft.functions.TextFunctions.wsTokens(textCol)
    docs.select(idCol.as("doc_id"),
        size(toks).cast(LongType).as("n_tokens"),
        size(array_distinct(toks)).cast(LongType).as("n_types"))
      .withColumn("ttr_ppm", when(col("n_tokens") === 0L, lit(null))
        .otherwise(GraphOps.fdiv(col("n_types") * 1000000L, col("n_tokens"))))
      .withColumn("low_diversity", col("ttr_ppm") < minPpm) // NULL propagates
  }

  /** §2 row 270 — TTR gate at 450000 ppm (splits the synthetic corpus
    * near the median, so both verdicts are populated). */
  def ttrQ(s: SparkSession, d: String): DataFrame =
    ttrGate(Tables.documents(s, d), col("doc_id"), col("text"), minPpm = 450000L)
      .orderBy(col("doc_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ttr" -> (ttrQ _),
    "q_readability" -> (readabilityQ _),
    "q_prf_expand" -> (prfQ _),
    "q_tfidf"  -> (tfidfQ _),
    "q_redact" -> (redactQ _),
    "q_luhn_redact" -> (luhnRedactQ _),
    "q_bm25"   -> (bm25Q _),
  )

  /** The BM25 ranking as reusable oracle CTEs ending in `bm25rank`
    * (qid, doc_id, score_i, rn<=10) — shared by the q_bm25 oracle and
    * the hybrid-fusion oracle. */
  /** The q_bm25 oracle CTE chain over an arbitrary document relation —
    * parameterized so the as-of state read (a batch-restricted index)
    * replays with the identical scoring math on the restricted
    * corpus. */
  private[operators] def bm25RankCtesOver(docsRel: String): String =
    s"""tokens AS (
      |  SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) AS token
      |  FROM $docsRel),
      |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tokens GROUP BY 1, 2),
      |dlen AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
      |st AS (SELECT (SELECT COUNT(*) FROM $docsRel) AS n_docs,
      |              (SELECT CAST(SUM(dl) AS BIGINT) FROM dlen) AS tot_dl),
      |q(qid, qtext) AS (VALUES
      |  (CAST(1 AS BIGINT), 'table scan fast'),
      |  (CAST(2 AS BIGINT), 'customer order value'),
      |  (CAST(3 AS BIGINT), 'spark window merge')),
      |qt AS (SELECT DISTINCT qid, token FROM (
      |  SELECT qid, UNNEST(regexp_extract_all(lower(qtext), '[a-z0-9]+', 0)) AS token
      |  FROM q) u),
      |tfq AS (SELECT tf.doc_id, tf.token, tf.tf, qt.qid
      |  FROM tf JOIN qt ON tf.token = qt.token),
      |qtok AS (SELECT DISTINCT token FROM qt),
      |dfq AS (SELECT tf.token, COUNT(*) AS df
      |  FROM tf JOIN qtok ON tf.token = qtok.token GROUP BY 1),
      |sc AS (
      |  SELECT tfq.qid, tfq.doc_id,
      |    CAST(SUM(CAST(floor(
      |      (((1.0 + ((CAST(st.n_docs AS DOUBLE) - CAST(dfq.df AS DOUBLE) + 0.5)
      |                 / (CAST(dfq.df AS DOUBLE) + 0.5)))
      |        / (CAST(st.n_docs AS DOUBLE) + 1.0))
      |       * ((CAST(tfq.tf AS DOUBLE) * 2.2)
      |          / (CAST(tfq.tf AS DOUBLE)
      |             + 1.2 * (0.25 + 0.75 * (CAST(dlen.dl AS DOUBLE)
      |                 / (CAST(st.tot_dl AS DOUBLE) / CAST(st.n_docs AS DOUBLE)))))))
      |      * 1000000000000000.0) AS BIGINT)) AS BIGINT) AS score_i
      |  FROM tfq
      |  JOIN dfq ON tfq.token = dfq.token
      |  JOIN dlen ON tfq.doc_id = dlen.doc_id
      |  CROSS JOIN st
      |  GROUP BY 1, 2),
      |bm25rank AS (
      |  SELECT qid, doc_id, score_i, rn FROM (
      |    SELECT qid, doc_id, score_i,
      |      CAST(ROW_NUMBER() OVER (PARTITION BY qid
      |        ORDER BY score_i DESC, doc_id) AS BIGINT) AS rn
      |    FROM sc) t
      |  WHERE rn <= 10)""".stripMargin

  private[operators] val bm25RankCtes = bm25RankCtesOver("documents")

  val oracles: Map[String, String] = Map(
    // same lowercase+whitespace tokenization; list_distinct for the
    // type count; all-nonnegative so // == the engine's floor div
    "q_ttr" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(ws) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(ws)) AS BIGINT) AS n_types,
        |  CAST(CASE WHEN len(ws) = 0 THEN NULL
        |       ELSE (len(list_distinct(ws)) * 1000000) // len(ws) END AS BIGINT) AS ttr_ppm,
        |  CASE WHEN len(ws) = 0 THEN NULL
        |       ELSE (len(list_distinct(ws)) * 1000000) // len(ws) < 450000 END AS low_diversity
        |FROM t
        |ORDER BY doc_id""".stripMargin,

    // same seeding; candidates via the same regex, the Luhn fold as a
    // per-candidate list comprehension, redaction as the
    // list_prepend/list_reduce fold (the BpeOps mergeSql trick)
    "q_luhn_redact" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 8 = 0 THEN text || ' card 4111111111111111 on file'
        |         WHEN doc_id % 8 = 1 THEN text || ' order 4111111111111112 shipped'
        |         WHEN doc_id % 8 = 2 THEN text || ' amex 371449635398431 ok'
        |         WHEN doc_id % 8 = 3 THEN text || ' ref 79927398713 short'
        |         ELSE text END AS text
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, text,
        |    regexp_extract_all(text, '[0-9]{13,19}', 0) AS cands,
        |    list_filter(regexp_extract_all(text, '[0-9]{13,19}', 0),
        |      c -> list_sum([CASE WHEN (length(c) - i) % 2 = 1
        |             THEN CASE WHEN 2 * CAST(substr(c, CAST(i AS INT), 1) AS INT) > 9
        |                       THEN 2 * CAST(substr(c, CAST(i AS INT), 1) AS INT) - 9
        |                       ELSE 2 * CAST(substr(c, CAST(i AS INT), 1) AS INT) END
        |             ELSE CAST(substr(c, CAST(i AS INT), 1) AS INT) END
        |           FOR i IN range(1, length(c) + 1)]) % 10 = 0) AS valids
        |  FROM s)
        |SELECT doc_id,
        |  CAST(len(cands) AS BIGINT) AS n_candidates,
        |  CAST(len(valids) AS BIGINT) AS n_valid,
        |  list_reduce(list_prepend(text, valids),
        |    (acc, x) -> replace(acc, x, '[CARD]')) AS text_redacted
        |FROM c ORDER BY doc_id""".stripMargin,
    // the same three counts (letters+digits, tokens, [.!?]+ groups with
    // the S=1 fallback), the integer ARI pair and one pinned division
    "q_readability" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST(length(text) - length(regexp_replace(text, '[A-Za-z0-9]', '', 'g')) AS BIGINT) AS c,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+', 0)) AS BIGINT) AS w,
        |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+', 0)), 1) AS BIGINT) AS s
        |  FROM documents)
        |SELECT doc_id, c AS n_chars_ari, w AS n_words, s AS n_sentences,
        |  CAST(471 * c * s + 50 * w * w - 2143 * w * s AS BIGINT) AS ari_num,
        |  CAST(100 * w * s AS BIGINT) AS ari_den,
        |  CASE WHEN w = 0 THEN NULL
        |       ELSE CAST(471 * c * s + 50 * w * w - 2143 * w * s AS DOUBLE)
        |            / CAST(100 * w * s AS DOUBLE) END AS ari
        |FROM b ORDER BY doc_id""".stripMargin,

    "q_tfidf" ->
      """WITH tokens AS (
        |  SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tokens GROUP BY 1, 2),
        |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT doc_id, token, tf, df, score, rn FROM (
        |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
        |    CAST(tf.tf AS DOUBLE) * (n.n_docs + 1) / (df.df + 1) AS score,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        |      ORDER BY CAST(tf.tf AS DOUBLE) * (n.n_docs + 1) / (df.df + 1) DESC,
        |               tf.token) AS BIGINT) AS rn
        |  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n) t
        |WHERE rn <= 3
        |ORDER BY doc_id, rn""".stripMargin,

    // the bm25rank CTEs verbatim → k-bounded feedback sets → Σtf per
    // (query, term) minus the query's own terms → ROW_NUMBER top-m
    "q_prf_expand" ->
      s"""WITH $bm25RankCtes,
         |fb AS (SELECT qid, doc_id FROM bm25rank),
         |scored AS (
         |  SELECT fb.qid, tf.token,
         |    CAST(SUM(tf.tf) AS BIGINT) AS score,
         |    CAST(COUNT(*) AS BIGINT) AS df_fb
         |  FROM fb JOIN tf ON tf.doc_id = fb.doc_id
         |  GROUP BY 1, 2),
         |kept AS (
         |  SELECT s.* FROM scored s
         |  LEFT JOIN qt ON qt.qid = s.qid AND qt.token = s.token
         |  WHERE qt.qid IS NULL)
         |SELECT qid, token, score, df_fb, rn FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY score DESC, token) AS BIGINT) AS rn
         |  FROM kept) t
         |WHERE rn <= 5
         |ORDER BY qid, rn""".stripMargin,

    // expression shape mirrors bm25Q op-for-op: every double step is a
    // single IEEE-754 operation on identical inputs, floored to the
    // integer image BEFORE the order-independent sum
    "q_bm25" ->
      s"""WITH $bm25RankCtes
         |SELECT qid, doc_id, score_i, rn FROM bm25rank
         |ORDER BY qid, rn""".stripMargin,

    "q_redact" ->
      """SELECT doc_id,
        |  CAST(length(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}', '<PHONE>', 'g')) AS BIGINT) AS redacted_len,
        |  regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}', '<PHONE>', 'g') <> text AS changed
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
  )
}
