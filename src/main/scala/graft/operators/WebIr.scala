package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.sources.Tables

/** Web-IR signal extraction over the crawl's link table (SURVEY.md §2
  * rows 266–269) — the consumers of the row-239 edge list that turn
  * raw links into ranking/curation signals:
  *
  *  - [[anchorAggregate]]: per target URL, the classic anchor-text
  *    aggregation (inlink count, distinct linking docs, distinct
  *    anchor phrasings, and the MODE anchor with a deterministic
  *    tie-break) — the signal web search indexes next to the page's
  *    own text, and a strong quality/topicality feature for crawl
  *    curation (a page the web calls "official docs" is not the page
  *    the web calls "spam mirror").
  *  - [[coCitation]]: URL pairs linked by the same source doc —
  *    related-page discovery (co-citation similarity), the link-side
  *    twin of embedding near-dup.
  *  - [[hits]]: Kleinberg's hubs & authorities in the repo's
  *    integer-image discipline (pure BIGINT arithmetic, floor-div
  *    L1 normalization each half-step) so the oracle replays it
  *    exactly — the second classic link-scoring kernel next to the
  *    row-114 PageRank.
  *  - [[resolveRedirects]]: bounded-hop resolution of a redirect map
  *    (301 aliases) to each URL's final target, with cycle/overflow
  *    flagging — the URL-alias collapse a frontier runs BEFORE
  *    url-keyed dedup, so `a.com/old` and `a.com/new` count as one
  *    page.
  *
  * Scale shapes are per-operator; every join here is an equi-join on
  * a URL or node key, every window is key-partitioned. */
object WebIr {

  /** Per-URL anchor aggregation. Two hash aggregations and one
    * row_number window, ALL keyed by the url (partial map-side
    * combine on both aggs; the window's partitions are bounded by a
    * URL's distinct anchor count, never the corpus); the final join
    * is url-co-partitioned. The mode tie-break is (count DESC,
    * anchor ASC) — deterministic under any partitioning. */
  def anchorAggregate(links: DataFrame, urlCol: String, anchorCol: String,
                      srcCol: String): DataFrame = {
    val totals = links.groupBy(col(urlCol).as("url"))
      .agg(count(lit(1)).as("n_inlinks"),
        countDistinct(col(srcCol)).as("n_src_docs"),
        countDistinct(col(anchorCol)).as("n_anchors"))
    val perAnchor = links.groupBy(col(urlCol).as("url"), col(anchorCol).as("anchor"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("url"))
      .orderBy(col("cnt").desc, col("anchor").asc)
    val top = perAnchor.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("url"), col("anchor").as("top_anchor"),
        col("cnt").as("top_anchor_n"))
    totals.join(top, Seq("url"))
  }

  /** Co-citation counts: distinct (src, url) edges self-joined on the
    * source, url_a < url_b canonical pair order. The join fans out
    * quadratically in a single doc's OUT-degree — bounded in a crawl
    * (pages carry tens-to-hundreds of links), never in the corpus:
    * the triangles wedge-bound argument. The bound is ENFORCED, not
    * assumed: sources with more than `maxOutDegree` distinct targets
    * are dropped before the self-join (one src-keyed count + a
    * co-partitioned semi-join), so a link-farm page with 50k outlinks
    * contributes ZERO pairs instead of 1.25e9 — standard IR practice
    * (a page linking everything carries no co-citation signal) and
    * the wedge bound becomes a hard maxOutDegree² per source. */
  def coCitation(links: DataFrame, srcCol: String, urlCol: String,
                 maxOutDegree: Int = 1000): DataFrame = {
    require(maxOutDegree >= 2, s"maxOutDegree must be >= 2, got $maxOutDegree")
    val e = links.select(col(srcCol).as("src"), col(urlCol).as("url")).distinct()
    val keep = e.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
      .filter(col("__deg") <= maxOutDegree)
      .select(col("src"))
    val ek = e.join(keep, Seq("src"), "left_semi")
    ek.as("a").join(ek.as("b"),
        col("a.src") === col("b.src") && col("a.url") < col("b.url"))
      .groupBy(col("a.url").as("url_a"), col("b.url").as("url_b"))
      .agg(count(lit(1)).as("n_cocite"))
  }

  /** Bibliographic coupling (SURVEY.md §2 row 294) — the DUAL of
    * [[coCitation]] (Kessler 1963): pairs of SOURCES that cite a
    * common target, where co-citation pairs targets cited by a common
    * source. Coupling is the similarity usable at CRAWL time (a page's
    * outlinks are known the moment it's parsed; its inlinks need the
    * whole graph), so it drives early related-page grouping and
    * link-spam clustering. Same shape, dual key: the self-join is
    * quadratic in a single TARGET's in-degree, so targets above
    * `maxInDegree` are dropped first (a target half the web links —
    * a CDN asset, a license page — carries no coupling signal, the
    * stopword argument). */
  def bibCoupling(links: DataFrame, srcCol: String, urlCol: String,
                  maxInDegree: Int = 1000): DataFrame = {
    require(maxInDegree >= 2, s"maxInDegree must be >= 2, got $maxInDegree")
    val e = links.select(col(srcCol).as("src"), col(urlCol).as("url")).distinct()
    val keep = e.groupBy(col("url")).agg(count(lit(1)).as("__deg"))
      .filter(col("__deg") <= maxInDegree)
      .select(col("url"))
    val ek = e.join(keep, Seq("url"), "left_semi")
    ek.as("a").join(ek.as("b"),
        col("a.url") === col("b.url") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Host-graph collapse (SURVEY.md §2 row 295) — the page-level link
    * table rolled up to a registered-domain graph: the granularity
    * crawl policy actually operates at (domain reputation, politeness
    * budgets, the row-114/268 link-scoring inputs — ranking 10⁹ pages
    * starts from ranking 10⁶ domains). Each endpoint URL maps through
    * the row-232 canonicalization to its registered domain (NULL —
    * unparseable or unknown TLD — folds to 'unknown', the
    * domain-report posture); INTRA-domain edges drop (site navigation
    * is not an endorsement, the same rule PageRank-over-domains uses);
    * the rest aggregate to (src_domain, dst_domain, n_links). One
    * map-side-combined aggregation over per-row projections. */
  def hostGraph(links: DataFrame, srcUrlCol: org.apache.spark.sql.Column,
                dstUrlCol: org.apache.spark.sql.Column): DataFrame = {
    def dom(u: org.apache.spark.sql.Column) =
      coalesce(Urls.registeredDomain(Urls.hostOf(u)), lit("unknown"))
    links.select(dom(srcUrlCol).as("src_domain"), dom(dstUrlCol).as("dst_domain"))
      .filter(col("src_domain") =!= col("dst_domain"))
      .groupBy(col("src_domain"), col("dst_domain"))
      .agg(count(lit(1)).as("n_links"))
  }

  private def fdiv(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    GraphOps.fdiv(a, b)

  /** HITS hubs & authorities, `iters` full iterations over a directed
    * edge set: a(v) = Σ_{u→v} h(u), h(u) = Σ_{u→v} a(v), each
    * half-step L1-normalized back to `scale` by floor division (the
    * integer image of the usual norm step — replayable SQL, no
    * doubles). Returns one row per node with (hub, auth), 0 for a
    * role the node never plays (a pure source has auth 0).
    *
    * Scale shape: two key-partitioned sum aggregations per iteration
    * plus a 1-row total broadcast back (the watermark-scalar
    * posture); edges and node frames shuffle on their keys only.
    * OVERFLOW CONTRACT: degree · scale² < 2^63 — at the default
    * scale=1e6 that admits degrees to ~9.2e6; a hotter authority
    * needs the PageRank weight-compression trick upstream. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String, iters: Int,
           scale: Long = 1000000L,
           smallGraphMax: Long = DriverGraph.NoCap): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = edges.select(col(srcCol).cast(LongType).as("src"),
        col(dstCol).cast(LongType).as("dst")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Small-graph fast path ([[DriverGraph]]): the distributed loop
      // pays ~6 driver-scheduled jobs per iteration (measured 35 jobs at
      // sf0.1). The replay runs the SAME integer half-steps
      // (Math.floorDiv == fdiv for positive divisors), so hub/auth
      // values are bit-identical.
      val fast = DriverGraph.graph(e, nodeWords = 4, maxEdges = smallGraphMax)
      if (fast.isDefined) {
        val g = fast.get
        // one L1-normalized half-step: scores flow along `from` -> `to`
        def halfStep(from: Array[Int], to: Array[Int], score: Array[Long]): Array[Long] = {
          val acc = new Array[Long](g.n)
          from.indices.foreach(i => acc(to(i)) += score(from(i)))
          val total = acc.sum
          acc.map(x => Math.floorDiv(x * scale, total))
        }
        // a role a node never plays stays 0: only sources start with a
        // hub score, and a node without in-edges accrues no authority
        val h0 = new Array[Long](g.n)
        g.src.foreach(h0(_) = scale)
        val (hub, auth) = (1 to iters).foldLeft((h0, h0)) { case ((h, _), _) =>
          val a = halfStep(g.src, g.dst, h)
          (halfStep(g.dst, g.src, a), a)
        }
        return DriverGraph.frame(edges.sparkSession,
          Seq("node" -> g.ids, "hub" -> hub, "auth" -> auth))
      }
      var h = e.select(col("src").as("node")).distinct()
        .withColumn("s", lit(scale))
      var a: DataFrame = null
      for (_ <- 1 to iters) {
        // EAGER checkpoint on the half-step AGGREGATE (pre-normalize),
        // not just the normalized frame: the L1 total is a broadcast
        // whose subtree executes as its OWN job at plan time, so an
        // un-checkpointed ar/hr pays the edge⋈score join + aggregation
        // TWICE per half-step (once under the total's broadcast job,
        // once under the normalize checkpoint); un-checkpointed
        // entirely, hsum(i)/asum(i)
        // would recompute the whole chain up to round i per total
        // (measured 5x worse). The checkpoints also make the
        // finally-block unpersist of e safe.
        val ar = e.join(h, e("src") === h("node"))
          .groupBy(col("dst")).agg(sum(col("s")).as("ar"))
          .localCheckpoint()
        val asum = ar.agg(sum(col("ar")).as("t"))
        a = ar.crossJoin(broadcast(asum)) // 1-row total over checkpointed ar
          .select(col("dst").as("node"), fdiv(col("ar") * scale, col("t")).as("s"))
          .localCheckpoint()
        val hr = e.join(a, e("dst") === a("node"))
          .groupBy(col("src")).agg(sum(col("s")).as("hr"))
          .localCheckpoint()
        val hsum = hr.agg(sum(col("hr")).as("t"))
        h = hr.crossJoin(broadcast(hsum))
          .select(col("src").as("node"), fdiv(col("hr") * scale, col("t")).as("s"))
          .localCheckpoint()
      }
      h.select(col("node"), col("s").as("hub"))
        .join(a.select(col("node"), col("s").as("auth")), Seq("node"), "full_outer")
        .select(col("node"), coalesce(col("hub"), lit(0L)).as("hub"),
          coalesce(col("auth"), lit(0L)).as("auth"))
    } finally { e.unpersist(); () }
  }

  /** Resolve a redirect map (from → to, one outgoing edge per from —
    * enforce upstream) to each source URL's final target in at most
    * `maxHops` hops: `unresolved` flags chains that still point at a
    * redirecting URL after the cap (a cycle or an over-long chain —
    * crawlers cap redirect hops the same way, typically at 5).
    * maxHops-1 iterated left equi-joins on the url key; no state, no
    * window. */
  def resolveRedirects(redirects: DataFrame, fromCol: String, toCol: String,
                       maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val r = redirects.select(col(fromCol).as("f"), col(toCol).as("t"))
    var cur = r.select(col("f").as("url"), col("t").as("cur"), lit(1L).as("n_hops"))
    for (_ <- 2 to maxHops) {
      cur = cur.join(r, cur("cur") === r("f"), "left")
        .select(col("url"), coalesce(col("t"), col("cur")).as("cur"),
          (col("n_hops") + when(col("t").isNotNull, 1L).otherwise(0L)).as("n_hops"))
    }
    cur.join(r.select(col("f")), cur("cur") === col("f"), "left")
      .select(col("url"), col("cur").as("final_url"), col("n_hops"),
        col("f").isNotNull.as("unresolved"))
  }

  // ---- Registered queries ---------------------------------------------------

  /** Deterministic link-table seed shared by q_anchor_text and
    * q_cocitation (and their oracles, verbatim): two links per doc
    * into a small shared target space (mod-7 / shifted mod-9) with a
    * 3-phrase anchor rotation, so targets accumulate competing
    * anchors (mode + ties exercised) and docs share targets
    * (co-citation pairs exist). */
  private def linkSeed(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(array(lit(0), lit(1))).as("j"))
      .withColumn("tgt", when(col("j") === 0, pmod(col("doc_id"), lit(7)))
        .otherwise(pmod(col("doc_id") + 3, lit(9))))
      .withColumn("r", when(col("j") === 0, pmod(col("doc_id"), lit(3)))
        .otherwise(pmod(col("doc_id") + 1, lit(3))))
      .select(col("doc_id"),
        concat(lit("https://www.hub"), pmod(col("tgt"), lit(2)).cast("string"),
          lit(".example.com/page/"), col("tgt").cast("string")).as("url"),
        when(col("r") === 0, "Home Page").when(col("r") === 1, "home")
          .otherwise("Main Home").as("anchor"))

  /** The seed's SQL twin — concatenated into both oracles so they
    * cannot drift from each other. No line here may START with `||`:
    * the fragment is interpolated into stripMargin oracles, which
    * would re-strip a leading pipe into a broken `|` operator. */
  private val linkSeedSql =
    """lnk AS (
      |  SELECT doc_id,
      |    'https://www.hub' || CAST(tgt % 2 AS VARCHAR) ||
      |      '.example.com/page/' || CAST(tgt AS VARCHAR) AS url,
      |    CASE WHEN r = 0 THEN 'Home Page' WHEN r = 1 THEN 'home'
      |         ELSE 'Main Home' END AS anchor
      |  FROM (
      |    SELECT doc_id,
      |      CASE WHEN j = 0 THEN doc_id % 7 ELSE (doc_id + 3) % 9 END AS tgt,
      |      CASE WHEN j = 0 THEN doc_id % 3 ELSE (doc_id + 1) % 3 END AS r
      |    FROM documents, (SELECT unnest([0, 1]) AS j) js) t)""".stripMargin

  /** §2 row 266 — anchor aggregation over the seeded link table. */
  def anchorTextQ(s: SparkSession, d: String): DataFrame =
    anchorAggregate(linkSeed(s, d), "url", "anchor", "doc_id")
      .orderBy(col("url"))

  /** §2 row 267 — co-citation pairs over the same link table. The
    * seed's out-degree is exactly 2 per doc, far under the default
    * maxOutDegree cap, so the oracle needs no degree filter; the
    * link-farm exclusion itself is pinned by WebIrSpec. */
  def coCitationQ(s: SparkSession, d: String): DataFrame =
    coCitation(linkSeed(s, d), "doc_id", "url")
      .orderBy(col("url_a"), col("url_b"))

  /** §2 row 268 — 2 HITS iterations over the row-174 purchase
    * bipartite graph (customers as hubs, suppliers as authorities). */
  def hitsQ(s: SparkSession, d: String): DataFrame =
    hits(GraphOps.purchaseEdges(s, d), "ca", "sb", iters = 2)
      .orderBy(col("node"))

  /** §2 row 269 — redirect resolution over a seeded alias map:
    * 1-hop aliases (m=1), a 2-hop chain (m=2 → m=1 → final), and a
    * 2-cycle (m=7 ↔ m=8) that must flag, maxHops=4. */
  def redirectChainsQ(s: SparkSession, d: String): DataFrame = {
    def u(c: org.apache.spark.sql.Column) =
      concat(lit("https://r.example.com/p/"), c.cast("string"))
    val m = pmod(col("doc_id"), lit(10))
    val redirects = Tables.documents(s, d)
      .select(col("doc_id"),
        when(m.isin(1, 2, 8), col("doc_id") - 1)
          .when(m === 7, col("doc_id") + 1).as("to_id"))
      .filter(col("to_id").isNotNull)
      .select(u(col("doc_id")).as("from_url"), u(col("to_id")).as("to_url"))
    resolveRedirects(redirects, "from_url", "to_url", maxHops = 4)
      .orderBy(col("url"))
  }

  /** §2 row 294 — coupling over an SF-STABLE target space: each doc
    * links targets ⌊id/2⌋ and ⌊id/2⌋+1, so every target's in-degree is
    * ~4 at ANY corpus size (pair volume grows linearly, never
    * quadratically — the seed itself must respect the operator's
    * contract) and consecutive docs chain into coupled pairs. */
  def bibCouplingQ(s: SparkSession, d: String): DataFrame = {
    val links = Tables.documents(s, d)
      .select(col("doc_id"), explode(array(lit(0L), lit(1L))).as("j"))
      .select(col("doc_id"),
        concat(lit("https://t.example.com/p/"),
          (GraphOps.fdiv(col("doc_id"), lit(2L)) + col("j")).cast("string"))
          .as("url"))
    bibCoupling(links, "doc_id", "url")
      .orderBy(col("src_a"), col("src_b"))
  }

  /** §2 row 295 — the host graph over seeded page edges: source URLs
    * ride the q_url_canon TLD rotation (the unknown-TLD branch folds
    * to 'unknown'), destinations rotate hub hosts with a mixed-case
    * known/unknown TLD split, and doc_id%6==0 edges point INSIDE the
    * source's own domain (the intra-domain drop is exercised). */
  def hostGraphQ(s: SparkSession, d: String): DataFrame = {
    val m4 = pmod(col("doc_id"), lit(4))
    val tld = when(m4 === 0, ".COM").when(m4 === 1, ".Co.UK")
      .when(m4 === 2, ".GitHub.IO").otherwise(".Example")
    val src = concat(lit("HTTPS://WWW."), upper(col("source")), tld,
      lit("/a/"), col("doc_id").cast("string"))
    val dst = when(pmod(col("doc_id"), lit(6)) === 0,
        concat(lit("https://www."), upper(col("source")), tld, lit("/b/1")))
      .otherwise(concat(lit("HTTP://Hub"), pmod(col("doc_id"), lit(3)).cast("string"),
        when(pmod(col("doc_id"), lit(2)) === 0, lit(".example.COM"))
          .otherwise(lit(".Example")),
        lit("/p/"), pmod(col("doc_id"), lit(7)).cast("string")))
    hostGraph(Tables.documents(s, d).select(col("doc_id"),
        src.as("src_url"), dst.as("dst_url")),
        col("src_url"), col("dst_url"))
      .orderBy(col("src_domain"), col("dst_domain"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_anchor_text"     -> (anchorTextQ _),
    "q_cocitation"      -> (coCitationQ _),
    "q_hits"            -> (hitsQ _),
    "q_redirect_chains" -> (redirectChainsQ _),
    "q_bib_coupling"    -> (bibCouplingQ _),
    "q_host_graph"      -> (hostGraphQ _))

  /** Textual floor-div macro (b > 0), the GraphOps.iterSql twin. */
  private def fd(a: String, b: String) =
    s"((($a) - (((($a) % ($b)) + ($b)) % ($b))) // ($b))"

  /** One unrolled HITS iteration: authority half-step then hub
    * half-step, each L1-normalized to scale by floor division. */
  private def hitsIterSql(i: Int, p: Int): String =
    s"""ar$i AS (
       |  SELECT e.dst AS node, SUM(h.s) AS ar
       |  FROM e0 e JOIN h$p h ON e.src = h.node GROUP BY e.dst),
       |as$i AS (SELECT SUM(ar) AS t FROM ar$i),
       |a$i AS MATERIALIZED (
       |  SELECT node, ${fd("ar * 1000000", "t")} AS s FROM ar$i, as$i),
       |hr$i AS (
       |  SELECT e.src AS node, SUM(a.s) AS hr
       |  FROM e0 e JOIN a$i a ON e.dst = a.node GROUP BY e.src),
       |hs$i AS (SELECT SUM(hr) AS t FROM hr$i),
       |h$i AS MATERIALIZED (
       |  SELECT node, ${fd("hr * 1000000", "t")} AS s FROM hr$i, hs$i)""".stripMargin

  val oracles: Map[String, String] = Map(
    // the in-degree cap never trips at the seed's constant ~4, so the
    // oracle states the pure coupling semantics
    "q_bib_coupling" ->
      """WITH lnk AS (
        |  SELECT doc_id,
        |    'https://t.example.com/p/' || CAST(doc_id // 2 + j AS VARCHAR) AS url
        |  FROM documents, (SELECT unnest([0, 1]) AS j) js),
        |e AS (SELECT DISTINCT doc_id AS src, url FROM lnk)
        |SELECT a.src AS src_a, b.src AS src_b, COUNT(*) AS n_shared
        |FROM e a JOIN e b ON a.url = b.url AND a.src < b.src
        |GROUP BY 1, 2
        |ORDER BY src_a, src_b""".stripMargin,

    // both endpoints unpivot through ONE shared canonSql pass (keyed by
    // (doc_id, side)), then re-pair; NULL registered domains fold to
    // 'unknown' and intra-domain edges drop, exactly as the engine
    "q_host_graph" ->
      ("""WITH edges AS (
         |  SELECT doc_id, 's' AS side,
         |    'HTTPS://WWW.' || upper(source)
         |      || (CASE WHEN doc_id % 4 = 0 THEN '.COM'
         |               WHEN doc_id % 4 = 1 THEN '.Co.UK'
         |               WHEN doc_id % 4 = 2 THEN '.GitHub.IO'
         |               ELSE '.Example' END)
         |      || '/a/' || CAST(doc_id AS VARCHAR) AS url
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id, 'd',
         |    CASE WHEN doc_id % 6 = 0 THEN
         |      'https://www.' || upper(source)
         |        || (CASE WHEN doc_id % 4 = 0 THEN '.COM'
         |                 WHEN doc_id % 4 = 1 THEN '.Co.UK'
         |                 WHEN doc_id % 4 = 2 THEN '.GitHub.IO'
         |                 ELSE '.Example' END) || '/b/1'
         |    ELSE
         |      'HTTP://Hub' || CAST(doc_id % 3 AS VARCHAR)
         |        || (CASE WHEN doc_id % 2 = 0 THEN '.example.COM' ELSE '.Example' END)
         |        || '/p/' || CAST(doc_id % 7 AS VARCHAR) END
         |  FROM documents),
         |""".stripMargin
        + Urls.canonSql("edges", Seq("doc_id", "side")) + ",\n"
        + """pairs AS (
           |  SELECT COALESCE(s.registered_domain, 'unknown') AS src_domain,
           |         COALESCE(d.registered_domain, 'unknown') AS dst_domain
           |  FROM canonized s JOIN canonized d ON s.doc_id = d.doc_id
           |  WHERE s.side = 's' AND d.side = 'd')
           |SELECT src_domain, dst_domain, COUNT(*) AS n_links
           |FROM pairs
           |WHERE src_domain <> dst_domain
           |GROUP BY 1, 2
           |ORDER BY src_domain, dst_domain""".stripMargin),

    "q_anchor_text" ->
      s"""WITH $linkSeedSql,
         |tot AS (
         |  SELECT url, COUNT(*) AS n_inlinks,
         |    COUNT(DISTINCT doc_id) AS n_src_docs,
         |    COUNT(DISTINCT anchor) AS n_anchors
         |  FROM lnk GROUP BY url),
         |pa AS (SELECT url, anchor, COUNT(*) AS cnt FROM lnk GROUP BY url, anchor),
         |top AS (
         |  SELECT url, anchor AS top_anchor, cnt AS top_anchor_n FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY url
         |      ORDER BY cnt DESC, anchor ASC) AS rn
         |    FROM pa) t
         |  WHERE rn = 1)
         |SELECT t.url, t.n_inlinks, t.n_src_docs, t.n_anchors,
         |  p.top_anchor, CAST(p.top_anchor_n AS BIGINT) AS top_anchor_n
         |FROM tot t JOIN top p ON t.url = p.url
         |ORDER BY t.url""".stripMargin,

    "q_cocitation" ->
      s"""WITH $linkSeedSql,
         |e AS (SELECT DISTINCT doc_id AS src, url FROM lnk)
         |SELECT a.url AS url_a, b.url AS url_b, COUNT(*) AS n_cocite
         |FROM e a JOIN e b ON a.src = b.src AND a.url < b.url
         |GROUP BY a.url, b.url
         |ORDER BY url_a, url_b""".stripMargin,

    "q_hits" ->
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         |h0 AS (SELECT DISTINCT src AS node, CAST(1000000 AS BIGINT) AS s FROM e0),
         |${hitsIterSql(1, 0)},
         |${hitsIterSql(2, 1)},
         |nodes AS (SELECT node FROM h2 UNION SELECT node FROM a2)
         |SELECT CAST(n.node AS BIGINT) AS node,
         |  CAST(COALESCE(h.s, 0) AS BIGINT) AS hub,
         |  CAST(COALESCE(a.s, 0) AS BIGINT) AS auth
         |FROM nodes n
         |LEFT JOIN h2 h ON n.node = h.node
         |LEFT JOIN a2 a ON n.node = a.node
         |ORDER BY node""".stripMargin,

    "q_redirect_chains" ->
      """WITH r AS (
        |  SELECT 'https://r.example.com/p/' || CAST(doc_id AS VARCHAR) AS f,
        |    'https://r.example.com/p/' || CAST(
        |      CASE WHEN doc_id % 10 IN (1, 2, 8) THEN doc_id - 1
        |           WHEN doc_id % 10 = 7 THEN doc_id + 1 END AS VARCHAR) AS t
        |  FROM documents
        |  WHERE doc_id % 10 IN (1, 2, 7, 8)),
        |c1 AS (SELECT f AS url, t AS cur, CAST(1 AS BIGINT) AS n_hops FROM r),
        |c2 AS (SELECT c.url, COALESCE(r.t, c.cur) AS cur,
        |         c.n_hops + (CASE WHEN r.t IS NULL THEN 0 ELSE 1 END) AS n_hops
        |       FROM c1 c LEFT JOIN r ON c.cur = r.f),
        |c3 AS (SELECT c.url, COALESCE(r.t, c.cur) AS cur,
        |         c.n_hops + (CASE WHEN r.t IS NULL THEN 0 ELSE 1 END) AS n_hops
        |       FROM c2 c LEFT JOIN r ON c.cur = r.f),
        |c4 AS (SELECT c.url, COALESCE(r.t, c.cur) AS cur,
        |         c.n_hops + (CASE WHEN r.t IS NULL THEN 0 ELSE 1 END) AS n_hops
        |       FROM c3 c LEFT JOIN r ON c.cur = r.f)
        |SELECT c.url, c.cur AS final_url, c.n_hops,
        |  (r.f IS NOT NULL) AS unresolved
        |FROM c4 c LEFT JOIN r ON c.cur = r.f
        |ORDER BY c.url""".stripMargin)
}
