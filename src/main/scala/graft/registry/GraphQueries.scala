package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.fixtures.{Pages, TextFixtures, TpchGeo}
import graft.text.{PipelineOps, TextOps}
import TextQueries.jaccardPairsSql

/** Link-graph algorithms: PageRank, HITS, components, k-core,
  * shortest paths, label propagation and graph statistics. */
object GraphQueries {

  private val pagerankSql: String =
      {
      // the q87 edge derivation, then the integer PageRank recurrence
      // unrolled as chained CTEs — identical micro-unit arithmetic to
      // DomainRank.pageRank (S = 1e12, damping 85/100, integer div)
      val edgeCtes =
        """nd AS (SELECT count(*) AS nn FROM documents),
          |raw AS (SELECT doc_id,
          |         'host' || CAST(doc_id % 97 AS VARCHAR) || '.example.org'
          |           AS src_domain,
          |         unnest([(doc_id * 31 + 7919) % nn, (doc_id * 31 + 15838) % nn,
          |                 (doc_id * 31 + 23757) % nn]) AS t
          |       FROM documents, nd),
          |e AS (SELECT src_domain,
          |        'host' || CAST(t % 97 AS VARCHAR) || '.example.org' AS dst_domain,
          |        count(*) AS n_links
          |      FROM raw GROUP BY 1, 2),
          |nodes AS (SELECT DISTINCT src_domain AS domain FROM e
          |          UNION SELECT DISTINCT dst_domain FROM e),
          |cnt AS (SELECT count(*) AS nc FROM nodes),
          |outw AS (SELECT src_domain, sum(n_links) AS ow FROM e GROUP BY 1),
          |pr0 AS (SELECT domain, 1000000000000 // nc AS pr
          |        FROM nodes CROSS JOIN cnt)""".stripMargin
      val iterCtes = (1 to 5).map { k =>
        val prev = if (k == 1) "pr0" else s"it${k - 1}"
        s"""it$k AS (SELECT nd2.domain,
           |    (15 * (1000000000000 // nc)) // 100 +
           |    (85 * coalesce(s.c, 0)) // 100 AS pr
           |  FROM nodes nd2 CROSS JOIN cnt
           |  LEFT JOIN (SELECT e.dst_domain AS domain,
           |               sum((p.pr * e.n_links) // o.ow) AS c
           |             FROM e JOIN $prev p ON e.src_domain = p.domain
           |             JOIN outw o ON e.src_domain = o.src_domain
           |             GROUP BY 1) s ON nd2.domain = s.domain)""".stripMargin
      }
      "WITH " + (edgeCtes +: iterCtes).mkString(",\n") +
        "\nSELECT domain, CAST(pr AS BIGINT) AS pr FROM it5 ORDER BY domain"
    }

  /** Directed fixture: rings of 10 inside each block of ids (last block
    * 90–96 is a ring of 7) + one-way bridges u→u+10 at u%10=3 — ten true
    * SCCs that undirected CC would merge into one component. */
  private def sccEdges(s: SparkSession, dir: String): DataFrame = {
    val nodes = s.read.parquet(s"$dir/documents.parquet")
      .select((col("doc_id") % 97).as("u")).distinct()
    val ring = nodes.select(col("u").as("src"),
      expr("(u - u % 10) + ((u % 10) + 1) % " +
        "(CASE WHEN u >= 90 THEN 7 ELSE 10 END)").as("dst"))
    val bridge = nodes.where(expr("u % 10 = 3 AND u + 10 <= 96"))
      .select(col("u").as("src"), (col("u") + 10).as("dst"))
    ring.unionAll(bridge)
  }

  /** The q255 block-ring + one-way-bridge digraph: long shortest paths
    * (landmark eccentricities up to ~5 blocks) with real unreachability. */
  private def chainEdges(s: SparkSession, dir: String): DataFrame = {
    val nodes = s.read.parquet(s"$dir/documents.parquet")
      .select((col("doc_id") % 97).as("u")).distinct()
    val ring = nodes.select(col("u").as("src"),
      expr("(u - u % 10) + ((u % 10) + 1) % " +
        "(CASE WHEN u >= 90 THEN 7 ELSE 10 END)").as("dst"))
    val bridge = nodes.where(expr("u % 10 = 3 AND u + 10 <= 96"))
      .select(col("u").as("src"), (col("u") + 10).as("dst"))
    ring.unionAll(bridge)
  }

  private val landmarks = Seq(0L, 13L, 26L, 39L, 52L, 65L, 78L, 91L)

  /** The q150 undirected link graph: src/dst over 97 hosts. */
  private def linkEdges(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"),
        explode(array(lit(7919L), lit(15838L), lit(23757L))).as("p"))
      .select((col("doc_id") % 97).as("src"),
        ((col("doc_id") * 31 + col("p")) % 97).as("dst"))

  /** The q152 fixture graph: sparser than the q144/q150 97-node orbit
    * (389 nodes, 1/3 of docs dropped) so the k = 3 peel takes three
    * genuine rounds to a 330-node core instead of terminating
    * immediately. */
  private def kcoreEdges(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") % 3 =!= 0)
      .select(col("doc_id"),
        explode(array(lit(7919L), lit(15838L), lit(23757L))).as("p"))
      .select((col("doc_id") % 389).as("src"),
        ((col("doc_id") * 31 + col("p")) % 389).as("dst"))

  /** The q152 oracle's peel round i: degrees over e(i−1), keep ≥ 3,
    * filter both endpoints. MATERIALIZED: an inlined chain expands each
    * e(i−1) reference multiplicatively — DuckDB re-opens the parquet
    * thousands of times and dies on file handles; materializing pins one
    * evaluation per round (what the engine's localCheckpoint does). */
  private def kcoreRound(i: Int): String =
    s"""d$i AS MATERIALIZED (SELECT id, count(*) AS deg FROM
       |  (SELECT a AS id FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1})
       |  GROUP BY id),
       |k$i AS MATERIALIZED (SELECT id FROM d$i WHERE deg >= 3),
       |e$i AS MATERIALIZED (SELECT e${i - 1}.a, e${i - 1}.b FROM e${i - 1}
       |  JOIN k$i x ON e${i - 1}.a = x.id
       |  JOIN k$i y ON e${i - 1}.b = y.id)""".stripMargin

  /** The q158 link graph: mod-97 closed form (the q150 generator) with
    * self-loops dropped and parallel edges collapsed into integer
    * weights. */
  private def pprEdges(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"),
        explode(array(lit(7919L), lit(15838L), lit(23757L))).as("p"))
      .select((col("doc_id") % 97).as("src"),
        ((col("doc_id") * 31 + col("p")) % 97).as("dst"))
      .where(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))

  /** The q158 oracle's pass i: damped inbound sums over pr(i−1) plus the
    * seed-only teleport, every operation the same integer div as the
    * engine's. */
  private def pprRound(i: Int): String =
    s"""c$i AS MATERIALIZED (SELECT ew.dst AS id,
       |    sum((p.pr * ew.w) // ew.ow) AS c
       |  FROM ew JOIN pr${i - 1} p ON ew.src = p.id GROUP BY 1),
       |pr$i AS MATERIALIZED (SELECT n.id,
       |    (CASE WHEN n.id IN (0, 1, 2) THEN 49999999999 ELSE 0 END)
       |    + (85 * CAST(coalesce(c.c, 0) AS BIGINT)) // 100 AS pr
       |  FROM nodes n LEFT JOIN c$i c ON n.id = c.id)""".stripMargin

  /** q178's deterministic two-block graph (same-parity edges + planted
    * bridges) — shared by the LPA query and the modularity scorer. */
  private def lpaEdges(s: SparkSession, dir: String): DataFrame = {
    val d = s.read.parquet(s"$dir/documents.parquet").select("doc_id")
    val intra = d.select(
      ((col("doc_id") * 13) % 40 * 2 + col("doc_id") % 2).as("src"),
      (((col("doc_id") * 29 + 7) % 40) * 2 + col("doc_id") % 2).as("dst"))
    val bridges = d.where(col("doc_id") % 101 === 0).select(
      ((col("doc_id") * 13) % 40 * 2).as("src"),
      (((col("doc_id") * 29 + 7) % 40) * 2 + 1).as("dst"))
    intra.unionByName(bridges)
  }

  def all: Seq[Q] = Seq(
    // near-dup GROUPS: exact Jaccard pairs → connected components →
    // (doc_id, min-reachable rep_id) — pairs become keep/drop decisions
    Q("q47_dedup_groups", (s, dir) =>
      TextOps.dedupComponents(
          TextFixtures.nearDupCorpus(s, dir, " graftmark near dup copy"),
          "doc_id", "text", n = 3, tau = 0.5)
        .orderBy("doc_id"),
      // components via recursive reachability over the same exact pair set
      s"""WITH RECURSIVE
         |nodes AS (SELECT doc_id AS id
         |          FROM (${TextFixtures.nearDupCorpusSql(" graftmark near dup copy")}) c0),
         |p AS (SELECT id_a, id_b FROM (
         |  ${jaccardPairsSql(TextFixtures.nearDupCorpusSql(" graftmark near dup copy"), 0.5)}) jp),
         |edges AS (SELECT id_a AS u, id_b AS v FROM p
         |          UNION ALL SELECT id_b AS u, id_a AS v FROM p),
         |r AS (
         |  SELECT id AS u, id AS v FROM nodes
         |  UNION
         |  SELECT r.u, e.v FROM r JOIN edges e ON r.v = e.u)
         |SELECT u AS doc_id, min(v) AS rep_id FROM r GROUP BY u
         |ORDER BY doc_id""".stripMargin),

    // 5-iteration link-weighted PageRank over the q87 graph in exact
    // integer micro-units — the oracle unrolls the identical integer
    // recurrence, so an iterative distributed graph computation is
    // bit-exact against SQL
    Q("q88_pagerank", (s, dir) =>
      graft.graph.DomainRank.pageRank(
          PipelineOps.domainLinkGraph(Pages.linkPages(s, dir),
            "doc_id", "url", "html"),
          iters = 5)
        .orderBy("domain"),
      pagerankSql),

    // 2-round integer HITS over the q87 link graph: hubs and authorities
    // max-norm-rescaled to micro-units each half-pass — the oracle unrolls
    // the identical mutually-recursive integer recurrence
    Q("q107_hits", (s, dir) =>
      graft.graph.Hits.hits(
          PipelineOps.domainLinkGraph(Pages.linkPages(s, dir),
            "doc_id", "url", "html"),
          iters = 2)
        .orderBy("domain"),
      {
      // the q87/q88 edge derivation, then the HITS recurrence unrolled —
      // identical integer arithmetic to Hits.hits (Scale = 1e6, max-norm,
      // integer div), one (authority, hub) CTE pair per round
      val edgeCtes =
        """nd AS (SELECT count(*) AS nn FROM documents),
          |raw AS (SELECT doc_id,
          |         'host' || CAST(doc_id % 97 AS VARCHAR) || '.example.org'
          |           AS src_domain,
          |         unnest([(doc_id * 31 + 7919) % nn, (doc_id * 31 + 15838) % nn,
          |                 (doc_id * 31 + 23757) % nn]) AS t
          |       FROM documents, nd),
          |e AS (SELECT src_domain,
          |        'host' || CAST(t % 97 AS VARCHAR) || '.example.org' AS dst_domain,
          |        count(*) AS n_links
          |      FROM raw GROUP BY 1, 2),
          |nodes AS (SELECT DISTINCT src_domain AS domain FROM e
          |          UNION SELECT DISTINCT dst_domain FROM e),
          |h0 AS (SELECT domain, CAST(1000000 AS BIGINT) AS h FROM nodes)""".stripMargin
      val rounds = (1 to 2).map { k =>
        s"""ar$k AS (SELECT n.domain, coalesce(s.a, 0) AS a
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst_domain AS domain, sum(p.h * e.n_links) AS a
           |    FROM e JOIN h${k - 1} p ON e.src_domain = p.domain GROUP BY 1) s
           |  ON n.domain = s.domain),
           |am$k AS (SELECT max(a) AS m FROM ar$k),
           |a$k AS (SELECT domain, (a * 1000000) // m AS a FROM ar$k, am$k),
           |hr$k AS (SELECT n.domain, coalesce(s.h, 0) AS h
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.src_domain AS domain, sum(p.a * e.n_links) AS h
           |    FROM e JOIN a$k p ON e.dst_domain = p.domain GROUP BY 1) s
           |  ON n.domain = s.domain),
           |hm$k AS (SELECT max(h) AS m FROM hr$k),
           |h$k AS (SELECT domain, (h * 1000000) // m AS h FROM hr$k, hm$k)""".stripMargin
      }
      "WITH " + (edgeCtes +: rounds).mkString(",\n") +
        """
          |SELECT a2.domain, CAST(a2.a AS BIGINT) AS auth,
          |  CAST(h2.h AS BIGINT) AS hub
          |FROM a2 JOIN h2 ON a2.domain = h2.domain ORDER BY a2.domain""".stripMargin
    }),

    // near-dup cluster canonicalization: connected components (the q47
    // pair/CC machinery) + keep-best-by-(length DESC, id ASC) — the oracle
    // recomputes clusters by recursive reachability and the argmax by
    // window rank, certifying the keep/drop decision table row-for-row
    Q("q109_canonical_dedup", (s, dir) => {
      import graft.fixtures.TextFixtures
      import graft.text.TextOps
      val corpus = TextFixtures.nearDupCorpus(s, dir, " graftmark near dup copy")
        .localCheckpoint(true)
      PipelineOps.canonicalPerCluster(
          TextOps.dedupComponents(corpus, "doc_id", "text", n = 3, tau = 0.5),
          "doc_id", "rep_id",
          corpus.select(col("doc_id"), length(col("text")).as("q")),
          "doc_id", "q")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
      {
      val corpusSql = graft.fixtures.TextFixtures
        .nearDupCorpusSql(" graftmark near dup copy")
      s"""WITH RECURSIVE
         |c0 AS ($corpusSql),
         |nodes AS (SELECT doc_id AS id FROM c0),
         |p AS (SELECT id_a, id_b FROM (
         |  ${jaccardPairsSql(corpusSql, 0.5)}) jp),
         |edges AS (SELECT id_a AS u, id_b AS v FROM p
         |          UNION ALL SELECT id_b AS u, id_a AS v FROM p),
         |r AS (
         |  SELECT id AS u, id AS v FROM nodes
         |  UNION
         |  SELECT r.u, e.v FROM r JOIN edges e ON r.v = e.u),
         |comp AS (SELECT u AS doc_id, min(v) AS rep_id FROM r GROUP BY u),
         |j AS (SELECT comp.doc_id, comp.rep_id, len(c0.text) AS q
         |      FROM comp JOIN c0 ON comp.doc_id = c0.doc_id),
         |can AS (SELECT rep_id, doc_id AS canonical_id FROM (
         |    SELECT rep_id, doc_id,
         |      row_number() OVER (PARTITION BY rep_id
         |                         ORDER BY q DESC, doc_id) AS rn
         |    FROM j) x WHERE rn = 1)
         |SELECT j.doc_id, j.rep_id, can.canonical_id,
         |  CAST(CASE WHEN j.doc_id = can.canonical_id THEN 1 ELSE 0 END
         |    AS INT) AS keep
         |FROM j JOIN can ON j.rep_id = can.rep_id
         |ORDER BY j.doc_id""".stripMargin
    }),

    // crawl-quota apportionment: the 5-iteration integer PageRank feeds a
    // largest-remainder split of a 10000-document sampling budget —
    // quotas sum to EXACTLY the budget, every seat decision integer-exact,
    // so the oracle gates rank + apportionment end to end
    Q("q129_quota_apportion", (s, dir) =>
      graft.graph.Apportion.largestRemainder(
          graft.graph.DomainRank.pageRank(
            PipelineOps.domainLinkGraph(Pages.linkPages(s, dir),
              "doc_id", "url", "html"),
            iters = 5),
          "domain", "pr", budget = 10000)
        .orderBy("key"),
      {
      // the q88 rank oracle verbatim as a CTE, then the identical
      // largest-remainder arithmetic
      s"""WITH ranks AS (${pagerankSql}),
         |tot AS (SELECT sum(pr) AS st FROM ranks),
         |based AS (SELECT domain AS key, pr AS s,
         |            CAST((10000 * pr) // st AS BIGINT) AS base,
         |            CAST((10000 * pr) % st AS BIGINT) AS rem
         |          FROM ranks, tot),
         |lo AS (SELECT CAST(10000 - sum(base) AS BIGINT) AS l FROM based),
         |r AS (SELECT key, s, base, rem,
         |        row_number() OVER (ORDER BY rem DESC, key) AS rr
         |      FROM based)
         |SELECT key, s, base,
         |  CAST(CASE WHEN rr <= l THEN 1 ELSE 0 END AS BIGINT) AS extra,
         |  base + CAST(CASE WHEN rr <= l THEN 1 ELSE 0 END AS BIGINT)
         |    AS quota
         |FROM r, lo ORDER BY key""".stripMargin
    }),

    // multi-source BFS crawl depth: how many hops from the seed domains is
    // every domain of the closed-form link graph — Pregel-style frontier
    // expansion with (long, int) rows only, gated by a DuckDB RECURSIVE
    // CTE computing the same shortest depths independently
    Q("q144_crawl_depth", (s, dir) => {
      import graft.graph.Bfs
      val edges = s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"),
          explode(array(lit(7919L), lit(15838L), lit(23757L))).as("p"))
        .select((col("doc_id") % 97).as("src"),
          ((col("doc_id") * 31 + col("p")) % 97).as("dst"))
        .distinct()
      val seeds = s.range(3).select(col("id"))
      Bfs.depths(edges, seeds, maxDepth = 6)
        .select(col("id"), col("depth").cast("int").as("depth"))
        .orderBy("id")
    },
      // independent shortest-depth computation: a RECURSIVE CTE expands
      // (node, depth) pairs to the same cap and takes the per-node minimum
      """WITH RECURSIVE e AS (SELECT DISTINCT
        |    doc_id % 97 AS src,
        |    (doc_id * 31 + p) % 97 AS dst
        |  FROM documents, (SELECT unnest([7919, 15838, 23757]) AS p)
        |  WHERE doc_id % 5 <> 0),
        |bfs(id, depth) AS (
        |  SELECT CAST(k AS BIGINT), 0 FROM (SELECT unnest(range(3)) AS k)
        |  UNION
        |  SELECT e.dst, b.depth + 1 FROM bfs b JOIN e ON e.src = b.id
        |  WHERE b.depth < 6)
        |SELECT id, CAST(min(depth) AS INT) AS depth
        |FROM bfs GROUP BY id ORDER BY id""".stripMargin),

    // crawl-graph community signal: per-domain triangle membership over
    // the closed-form link graph via the degree-ordered node-iterator
    // (out-degree bounded O(√m) ⇒ the wedge self-join survives power-law
    // hubs); oracle = an independent 3-way self-join enumeration
    Q("q150_link_triangles", (s, dir) => {
      import graft.graph.Triangles
      val edges = s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"),
          explode(array(lit(7919L), lit(15838L), lit(23757L))).as("p"))
        .select((col("doc_id") % 97).as("src"),
          ((col("doc_id") * 31 + col("p")) % 97).as("dst"))
      Triangles.perNode(edges)
        .select(col("id"), col("n_tri"))
        .orderBy("id")
    },
      """WITH e0 AS (SELECT DISTINCT doc_id % 97 AS a, (doc_id*31 + p) % 97
        |      AS b
        |  FROM documents, (SELECT unnest([7919, 15838, 23757]) AS p)
        |  WHERE doc_id % 5 <> 0),
        |e AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
        |      FROM e0 WHERE a <> b),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |m AS (SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
        |      UNION ALL SELECT z FROM tri)
        |SELECT id, count(*) AS n_tri FROM m GROUP BY id
        |ORDER BY id""".stripMargin),

    // k-core decomposition of the link graph (k = 3): iterative peel over
    // (long, long) edges; the oracle replays the peel as a fixed chain of
    // degree/filter CTEs (6 rounds ≥ the graph's 3-round fixpoint, extra
    // rounds are no-ops)
    Q("q152_kcore", (s, dir) =>
      graft.graph.KCore.core(kcoreEdges(s, dir), k = 3)
        .orderBy("id"),
      s"""WITH e0 AS MATERIALIZED (SELECT DISTINCT least(a, b) AS a,
         |    greatest(a, b) AS b
         |  FROM (SELECT doc_id % 389 AS a, (doc_id*31 + p) % 389 AS b
         |        FROM documents, (SELECT unnest([7919, 15838, 23757]) AS p)
         |        WHERE doc_id % 3 <> 0)
         |  WHERE least(a, b) <> greatest(a, b)),
         |${(1 to 6).map(kcoreRound).mkString(",\n")},
         |df AS (SELECT id, count(*) AS deg FROM
         |  (SELECT a AS id FROM e6 UNION ALL SELECT b FROM e6)
         |  GROUP BY id)
         |SELECT id, deg FROM df WHERE deg >= 3 ORDER BY id""".stripMargin),

    // personalized PageRank from a 3-seed trust set over the weighted link
    // graph, 4 passes of exact integer micro-unit arithmetic — the
    // crawl-frontier prioritizer "rank by closeness to trusted hubs"; the
    // oracle replays all 4 passes as chained CTEs, so every div/damping
    // step must match bit for bit
    Q("q158_personalized_pagerank", (s, dir) =>
      graft.graph.DomainRank.personalizedPageRank(
          pprEdges(s, dir), seeds = Seq(0L, 1L, 2L), iters = 4)
        .orderBy("id"),
      s"""WITH raw AS (SELECT doc_id % 97 AS src, (doc_id*31 + p) % 97 AS dst
         |  FROM documents, (SELECT unnest([7919, 15838, 23757]) AS p)
         |  WHERE doc_id % 5 <> 0),
         |e AS MATERIALIZED (SELECT src, dst, CAST(count(*) AS BIGINT) AS w
         |  FROM raw WHERE src <> dst GROUP BY 1, 2),
         |ow AS MATERIALIZED (SELECT src, CAST(sum(w) AS BIGINT) AS ow
         |  FROM e GROUP BY 1),
         |ew AS MATERIALIZED (SELECT e.src, e.dst, e.w, ow.ow
         |  FROM e JOIN ow USING (src)),
         |nodes AS MATERIALIZED (SELECT DISTINCT id FROM
         |  (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
         |pr0 AS MATERIALIZED (SELECT id, CAST(CASE WHEN id IN (0, 1, 2)
         |    THEN 333333333333 ELSE 0 END AS BIGINT) AS pr FROM nodes),
         |${(1 to 4).map(pprRound).mkString(",\n")}
         |SELECT id, CAST(pr AS BIGINT) AS pr FROM pr4 ORDER BY id""".stripMargin),

    // weighted shortest paths (Bellman-Ford rounds) over the closed-form
    // link graph with deterministic integer weights, gated by a DuckDB
    // RECURSIVE CTE bounded to the same <= 8-edge paths
    Q("q175_sssp", (s, dir) => {
      import graft.graph.Sssp
      val edges = s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"),
          explode(array(lit(7919L), lit(15838L), lit(23757L))).as("p"))
        .select((col("doc_id") % 97).as("src"),
          ((col("doc_id") * 31 + col("p")) % 97).as("dst"))
        .distinct()
        .withColumn("w", (col("src") * 7 + col("dst") * 13) % 9 + 1)
      val seeds = s.range(3).select(col("id"))
      Sssp.distances(edges, seeds, maxRounds = 8)
        .select(col("id"), col("dist"))
        .orderBy("id")
    },
      """WITH RECURSIVE e AS (SELECT DISTINCT doc_id % 97 AS src,
        |    (doc_id * 31 + p) % 97 AS dst
        |  FROM documents, (SELECT unnest([7919, 15838, 23757]) AS p)
        |  WHERE doc_id % 5 <> 0),
        |ew AS (SELECT src, dst, (src * 7 + dst * 13) % 9 + 1 AS w FROM e),
        |paths(id, d, h) AS (
        |  SELECT CAST(k AS BIGINT), CAST(0 AS BIGINT), 0
        |  FROM (SELECT unnest(range(3)) AS k)
        |  UNION
        |  SELECT ew.dst, p.d + ew.w, p.h + 1
        |  FROM paths p JOIN ew ON ew.src = p.id WHERE p.h < 8)
        |SELECT id, CAST(min(d) AS BIGINT) AS dist
        |FROM paths GROUP BY id ORDER BY id""".stripMargin),

    // label-propagation communities over a closed-form two-block graph
    // (same-parity edges plus a few planted bridges): 4 synchronous
    // deterministic vote rounds, then community sizes — the clustering
    // complement to q47's membership-only connected components
    Q("q178_label_propagation", (s, dir) => {
      import graft.graph.LabelProp
      val d = s.read.parquet(s"$dir/documents.parquet").select("doc_id")
      val intra = d.select(
        ((col("doc_id") * 13) % 40 * 2 + col("doc_id") % 2).as("src"),
        (((col("doc_id") * 29 + 7) % 40) * 2 + col("doc_id") % 2).as("dst"))
      val bridges = d.where(col("doc_id") % 101 === 0).select(
        ((col("doc_id") * 13) % 40 * 2).as("src"),
        (((col("doc_id") * 29 + 7) % 40) * 2 + 1).as("dst"))
      val labels = LabelProp.propagate(intra.unionByName(bridges), rounds = 4)
      labels
        .join(labels.groupBy("lab").agg(count(lit(1)).as("csize")), "lab")
        .select(col("id"), col("lab"), col("csize"))
        .orderBy("id")
    },
      // four synchronous vote rounds, (count DESC, label ASC) tie-break —
      // the same total order the engine's min-struct vote encodes
      """WITH e0 AS (
        |  SELECT (doc_id * 13) % 40 * 2 + doc_id % 2 AS src,
        |         ((doc_id * 29 + 7) % 40) * 2 + doc_id % 2 AS dst
        |  FROM documents
        |  UNION ALL
        |  SELECT (doc_id * 13) % 40 * 2,
        |         ((doc_id * 29 + 7) % 40) * 2 + 1
        |  FROM documents WHERE doc_id % 101 = 0),
        |e1 AS (SELECT src, dst FROM e0 WHERE src <> dst),
        |e AS (SELECT DISTINCT src, dst FROM
        |  (SELECT src, dst FROM e1 UNION ALL SELECT dst, src FROM e1)),
        |l0 AS (SELECT DISTINCT src AS id, src AS lab FROM e),
        |v1 AS (SELECT e.dst AS id, l.lab, count(*) AS c
        |       FROM e JOIN l0 l ON e.src = l.id GROUP BY 1, 2),
        |l1 AS (SELECT id, lab FROM (SELECT id, lab,
        |         row_number() OVER (PARTITION BY id
        |           ORDER BY c DESC, lab ASC) AS rn FROM v1) WHERE rn = 1),
        |v2 AS (SELECT e.dst AS id, l.lab, count(*) AS c
        |       FROM e JOIN l1 l ON e.src = l.id GROUP BY 1, 2),
        |l2 AS (SELECT id, lab FROM (SELECT id, lab,
        |         row_number() OVER (PARTITION BY id
        |           ORDER BY c DESC, lab ASC) AS rn FROM v2) WHERE rn = 1),
        |v3 AS (SELECT e.dst AS id, l.lab, count(*) AS c
        |       FROM e JOIN l2 l ON e.src = l.id GROUP BY 1, 2),
        |l3 AS (SELECT id, lab FROM (SELECT id, lab,
        |         row_number() OVER (PARTITION BY id
        |           ORDER BY c DESC, lab ASC) AS rn FROM v3) WHERE rn = 1),
        |v4 AS (SELECT e.dst AS id, l.lab, count(*) AS c
        |       FROM e JOIN l3 l ON e.src = l.id GROUP BY 1, 2),
        |l4 AS (SELECT id, lab FROM (SELECT id, lab,
        |         row_number() OVER (PARTITION BY id
        |           ORDER BY c DESC, lab ASC) AS rn FROM v4) WHERE rn = 1)
        |SELECT l4.id, CAST(l4.lab AS BIGINT) AS lab,
        |  CAST(cs.csize AS BIGINT) AS csize
        |FROM l4 JOIN (SELECT lab, count(*) AS csize FROM l4 GROUP BY lab) cs
        |  USING (lab)
        |ORDER BY id""".stripMargin),

    // geometry → graph → shortest path: build the county adjacency graph
    // FROM THE RINGS (q193's operator), run unit-weight shortest paths
    // from the corner county — on the 4×4 rook lattice the answer is the
    // Manhattan distance, which is exactly what the oracle predicts
    // without ever seeing an edge
    Q("q207_network_distance", (s, dir) => {
      import graft.operators.Topology
      import graft.graph.Sssp
      val adj = Topology.edgeAdjacency(TpchGeo.counties(s), "fips", "geom")
      // fips '47NNN' → integer node id; symmetric unit edges
      def nid(name: String) = expr(s"CAST(substr($name, 3) AS BIGINT)")
      val edges = adj.select(nid("id_a").as("src"), nid("id_b").as("dst"))
        .unionByName(adj.select(nid("id_b").as("src"),
          nid("id_a").as("dst")))
        .withColumn("w", lit(1L))
      val seeds = s.range(1).select((col("id") + 1).as("id"))
      Sssp.distances(edges, seeds, maxRounds = 8)
        .select(concat(lit("47"), lpad(col("id").cast("string"), 3, "0"))
          .as("fips"), col("dist").cast("long").as("hops"))
        .orderBy("fips")
    },
      // Manhattan distance on the 4×4 rook lattice from county 47001
      """SELECT '47' || lpad(CAST(i + 1 AS VARCHAR), 3, '0') AS fips,
        |  CAST((i % 4) + (i // 4) AS BIGINT) AS hops
        |FROM range(16) t(i) ORDER BY fips""".stripMargin),

    // exact integer modularity of the q178 communities: per community c,
    // contrib_num = 4·m·e_c − d_c² over denominator 4m² (never divided —
    // the ladder stays integer; Q = Σ contrib_num / 4m²). e_c/d_c/m come
    // from three keyed aggregations over the deduped symmetric edge set.
    Q("q211_community_modularity", (s, dir) => {
      import graft.graph.LabelProp
      val edges = lpaEdges(s, dir)
      val labels = LabelProp.propagate(edges, rounds = 4)
      val und = edges.select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst"))
        .where(col("src") =!= col("dst"))
      val sym = und.unionByName(
          und.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
        .transform(graft.spark.PersistTracker.persist)
      val ue = sym.where(col("src") < col("dst"))
      val m = ue.agg(count(lit(1))).head().getLong(0) // 1-row scalar
      val deg = sym.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("dg"))
      val la = labels.select(col("id").as("src"), col("lab"))
      val lb = labels.select(col("id").as("dst"), col("lab").as("lab_b"))
      val intra = ue.join(la, "src").join(lb, "dst")
        .where(col("lab") === col("lab_b"))
        .groupBy("lab").agg(count(lit(1)).as("e_intra"))
      labels.join(deg, "id")
        .groupBy("lab")
        .agg(count(lit(1)).as("n_nodes"), sum("dg").as("d_sum"))
        .join(intra, Seq("lab"), "left")
        .withColumn("e_intra", coalesce(col("e_intra"), lit(0L)))
        .withColumn("contrib_num",
          lit(4L) * m * col("e_intra") - col("d_sum") * col("d_sum"))
        .select("lab", "n_nodes", "e_intra", "d_sum", "contrib_num")
        .orderBy("lab")
    },
      """WITH e0 AS (
        |  SELECT (doc_id * 13) % 40 * 2 + doc_id % 2 AS src,
        |         ((doc_id * 29 + 7) % 40) * 2 + doc_id % 2 AS dst
        |  FROM documents
        |  UNION ALL
        |  SELECT (doc_id * 13) % 40 * 2,
        |         ((doc_id * 29 + 7) % 40) * 2 + 1
        |  FROM documents WHERE doc_id % 101 = 0),
        |e1 AS (SELECT src, dst FROM e0 WHERE src <> dst),
        |e AS (SELECT DISTINCT src, dst FROM
        |  (SELECT src, dst FROM e1 UNION ALL SELECT dst, src FROM e1)),
        |l0 AS (SELECT DISTINCT src AS id, src AS lab FROM e),
        |v1 AS (SELECT e.dst AS id, l.lab, count(*) AS c
        |       FROM e JOIN l0 l ON e.src = l.id GROUP BY 1, 2),
        |l1 AS (SELECT id, lab FROM (SELECT id, lab,
        |         row_number() OVER (PARTITION BY id
        |           ORDER BY c DESC, lab ASC) AS rn FROM v1) WHERE rn = 1),
        |v2 AS (SELECT e.dst AS id, l.lab, count(*) AS c
        |       FROM e JOIN l1 l ON e.src = l.id GROUP BY 1, 2),
        |l2 AS (SELECT id, lab FROM (SELECT id, lab,
        |         row_number() OVER (PARTITION BY id
        |           ORDER BY c DESC, lab ASC) AS rn FROM v2) WHERE rn = 1),
        |v3 AS (SELECT e.dst AS id, l.lab, count(*) AS c
        |       FROM e JOIN l2 l ON e.src = l.id GROUP BY 1, 2),
        |l3 AS (SELECT id, lab FROM (SELECT id, lab,
        |         row_number() OVER (PARTITION BY id
        |           ORDER BY c DESC, lab ASC) AS rn FROM v3) WHERE rn = 1),
        |v4 AS (SELECT e.dst AS id, l.lab, count(*) AS c
        |       FROM e JOIN l3 l ON e.src = l.id GROUP BY 1, 2),
        |l4 AS (SELECT id, lab FROM (SELECT id, lab,
        |         row_number() OVER (PARTITION BY id
        |           ORDER BY c DESC, lab ASC) AS rn FROM v4) WHERE rn = 1),
        |deg AS (SELECT src AS id, count(*) AS dg FROM e GROUP BY 1),
        |ue AS (SELECT src, dst FROM e WHERE src < dst),
        |mm AS (SELECT count(*) AS m FROM ue),
        |intra AS (SELECT la.lab, count(*) AS ec
        |          FROM ue JOIN l4 la ON ue.src = la.id
        |          JOIN l4 lb ON ue.dst = lb.id AND la.lab = lb.lab
        |          GROUP BY 1),
        |ds AS (SELECT l4.lab, count(*) AS nn, sum(dg) AS dc
        |       FROM l4 JOIN deg USING (id) GROUP BY 1)
        |SELECT CAST(ds.lab AS BIGINT) AS lab, CAST(nn AS BIGINT) AS n_nodes,
        |  CAST(coalesce(ec, 0) AS BIGINT) AS e_intra,
        |  CAST(dc AS BIGINT) AS d_sum,
        |  CAST(4 * m * coalesce(ec, 0) - dc * dc AS BIGINT) AS contrib_num
        |FROM ds LEFT JOIN intra ON ds.lab = intra.lab CROSS JOIN mm
        |ORDER BY lab""".stripMargin),

    // redirect-chain resolution by pointer doubling: every redirecting
    // url jumps to its FINAL target in ⌈log₂ L⌉ self-joins (f ← f∘f),
    // not L hops — the canonical-capture step after 301-chain crawling.
    // The fixture halves ids (strictly decreasing ⇒ acyclic); the oracle
    // follows the chains with a RECURSIVE CTE.
    Q("q212_redirect_resolve", (s, dir) => {
      import graft.graph.PointerDoubling
      val ptr = s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 3 === 0 && col("doc_id") > 0)
        .select(col("doc_id").as("src"),
          expr("doc_id div 2").as("dst"))
      PointerDoubling.resolve(ptr)
        .select(col("src"), col("dst").as("terminal"))
        .orderBy("src")
    },
      """WITH RECURSIVE p AS (
        |  SELECT doc_id AS src, doc_id // 2 AS dst FROM documents
        |  WHERE doc_id % 3 = 0 AND doc_id > 0),
        |r AS (SELECT src, dst FROM p
        |      UNION ALL
        |      SELECT r.src, p.dst FROM r JOIN p ON r.dst = p.src)
        |SELECT src, dst AS terminal FROM r
        |WHERE dst NOT IN (SELECT src FROM p)
        |ORDER BY src""".stripMargin),

    Q("q219_contamination_closure", (s, dir) => {
      import graft.text.TextOps
      val corpus = TextFixtures.nearDupCorpus(s, dir,
        " graftmark near dup copy")
      val comps = TextOps.dedupComponents(corpus, "doc_id", "text",
        n = 3, tau = 0.5)
      val flagged = corpus.select(col("doc_id"),
        (col("doc_id") % 19 === 0).as("direct"))
      val cl = comps.join(flagged, "doc_id")
        .transform(graft.spark.PersistTracker.persist)
      val dirty = cl.groupBy("rep_id")
        .agg(max(when(col("direct"), 1).otherwise(0)).as("dirty"))
      cl.join(dirty, "rep_id")
        .select(col("doc_id"), col("rep_id"), col("direct"),
          (col("dirty") === 1).as("contaminated"))
        .orderBy("doc_id")
    },
      {
      val corpusSql = TextFixtures.nearDupCorpusSql(" graftmark near dup copy")
      s"""WITH RECURSIVE
         |nodes AS (SELECT doc_id AS id FROM ($corpusSql) c0),
         |p AS (SELECT id_a, id_b FROM (
         |  ${jaccardPairsSql(corpusSql, 0.5)}) jp),
         |edges AS (SELECT id_a AS u, id_b AS v FROM p
         |          UNION ALL SELECT id_b AS u, id_a AS v FROM p),
         |r AS (
         |  SELECT id AS u, id AS v FROM nodes
         |  UNION
         |  SELECT r.u, e.v FROM r JOIN edges e ON r.v = e.u),
         |cc AS (SELECT u AS doc_id, min(v) AS rep_id FROM r GROUP BY u),
         |fl AS (SELECT doc_id, doc_id % 19 = 0 AS direct FROM ($corpusSql) c1),
         |dr AS (SELECT rep_id,
         |         max(CASE WHEN direct THEN 1 ELSE 0 END) AS dirty
         |       FROM cc JOIN fl USING (doc_id) GROUP BY 1)
         |SELECT cc.doc_id, cc.rep_id, fl.direct,
         |  dr.dirty = 1 AS contaminated
         |FROM cc JOIN fl USING (doc_id) JOIN dr USING (rep_id)
         |ORDER BY doc_id""".stripMargin
    }),

    // TextRank: undirected word co-occurrence edges (adjacent token
    // pairs) → the q88 exact-integer PageRank (3 passes) → salted
    // two-phase top-15. Every exchange is vocabulary-bounded.
    Q("q227_textrank", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pairs = docs
        .select(split(col("text"), " ").as("t"))
        .select(explode(expr(
          "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1)," +
            " (x, y) -> named_struct('w1', x, 'w2', y))")).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .where(col("w1") =!= "" && col("w2") =!= "" &&
          col("w1") =!= col("w2"))
      val edges = pairs
        .select(explode(array(
          struct(col("w1").as("src_domain"), col("w2").as("dst_domain")),
          struct(col("w2").as("src_domain"), col("w1").as("dst_domain"))))
          .as("e"))
        .select(col("e.src_domain"), col("e.dst_domain"))
        .groupBy("src_domain", "dst_domain")
        .agg(count(lit(1)).as("n_links"))
      val pr = graft.graph.DomainRank.pageRank(edges, iters = 3)
      pr.withColumn("__salt", pmod(hash(col("domain")), lit(16)))
        .withColumn("__pr", row_number().over(
          Window.partitionBy("__salt")
            .orderBy(col("pr").desc, col("domain"))))
        .where(col("__pr") <= 15)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("pr").desc, col("domain"))))
        .where(col("rank") <= 15)
        .select(col("rank").cast("int").as("rank"),
          col("domain").as("word"), col("pr"))
    },
      {
      val edgeCtes =
        """tok AS (SELECT string_split(text, ' ') AS t FROM documents),
          |pr0p AS (SELECT t[i] AS w1, t[i + 1] AS w2
          |         FROM tok, unnest(generate_series(1, len(t) - 1)) g(i)
          |         WHERE t[i] <> '' AND t[i + 1] <> ''
          |           AND t[i] <> t[i + 1]),
          |e AS (SELECT src_domain, dst_domain, count(*) AS n_links
          |      FROM (SELECT w1 AS src_domain, w2 AS dst_domain FROM pr0p
          |            UNION ALL
          |            SELECT w2, w1 FROM pr0p)
          |      GROUP BY 1, 2),
          |nodes AS (SELECT DISTINCT src_domain AS domain FROM e
          |          UNION SELECT DISTINCT dst_domain FROM e),
          |cnt AS (SELECT count(*) AS nc FROM nodes),
          |outw AS (SELECT src_domain, sum(n_links) AS ow FROM e GROUP BY 1),
          |pr0 AS (SELECT domain, 1000000000000 // nc AS pr
          |        FROM nodes CROSS JOIN cnt)""".stripMargin
      val iterCtes = (1 to 3).map { k =>
        val prev = if (k == 1) "pr0" else s"it${k - 1}"
        s"""it$k AS (SELECT nd2.domain,
           |    (15 * (1000000000000 // nc)) // 100 +
           |    (85 * coalesce(s.c, 0)) // 100 AS pr
           |  FROM nodes nd2 CROSS JOIN cnt
           |  LEFT JOIN (SELECT e.dst_domain AS domain,
           |               sum((p.pr * e.n_links) // o.ow) AS c
           |             FROM e JOIN $prev p ON e.src_domain = p.domain
           |             JOIN outw o ON e.src_domain = o.src_domain
           |             GROUP BY 1) s ON nd2.domain = s.domain)""".stripMargin
      }
      "WITH " + (edgeCtes +: iterCtes).mkString(",\n") +
        """
          |, ranked AS (SELECT domain, pr,
          |    row_number() OVER (ORDER BY pr DESC, domain) AS rank
          |  FROM it3)
          |SELECT CAST(rank AS INT) AS rank, domain AS word,
          |  CAST(pr AS BIGINT) AS pr
          |FROM ranked WHERE rank <= 15""".stripMargin
    }),

    // community-vs-directory audit over the q150 closed-form link graph:
    // per-node degree, triangle count, and clustering coefficient in
    // exact micro-units — the wedge join stays O(√m)-bounded per node
    Q("q251_clustering_coeff", (s, dir) => {
      val edges = s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"),
          explode(array(lit(7919L), lit(15838L), lit(23757L))).as("p"))
        .select((col("doc_id") % 97).as("src"),
          ((col("doc_id") * 31 + col("p")) % 97).as("dst"))
      graft.graph.Triangles.clusteringCoeff(edges)
        .orderBy("id")
    },
      """WITH e0 AS (SELECT DISTINCT doc_id % 97 AS a, (doc_id*31 + p) % 97
        |      AS b
        |  FROM documents, (SELECT unnest([7919, 15838, 23757]) AS p)
        |  WHERE doc_id % 5 <> 0),
        |e AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
        |      FROM e0 WHERE a <> b),
        |deg AS (SELECT id, count(*) AS deg FROM
        |    (SELECT a AS id FROM e UNION ALL SELECT b FROM e)
        |  GROUP BY id),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |m AS (SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
        |      UNION ALL SELECT z FROM tri),
        |tc AS (SELECT id, count(*) AS n_tri FROM m GROUP BY id)
        |SELECT deg.id, CAST(deg.deg AS BIGINT) AS deg,
        |  CAST(coalesce(tc.n_tri, 0) AS BIGINT) AS n_tri,
        |  CAST(CASE WHEN deg.deg >= 2 THEN
        |      (2000000 * coalesce(tc.n_tri, 0)) // (deg.deg * (deg.deg - 1))
        |    ELSE 0 END AS BIGINT) AS cc_e6
        |FROM deg LEFT JOIN tc ON tc.id = deg.id
        |ORDER BY deg.id""".stripMargin),

    // mutual-link ring detection: ten directed ring SCCs chained by
    // one-way bridges — CC sees one blob, SCC must find all ten; oracle
    // is an independent recursive-closure mutual-reachability in DuckDB
    Q("q255_scc", (s, dir) =>
      graft.graph.Scc.components(sccEdges(s, dir)).orderBy("id"),
      """WITH RECURSIVE nodes AS (
        |  SELECT DISTINCT doc_id % 97 AS u FROM documents),
        |e AS (
        |  SELECT u AS s, (u - u % 10) + ((u % 10) + 1)
        |      % (CASE WHEN u >= 90 THEN 7 ELSE 10 END) AS t
        |  FROM nodes
        |  UNION ALL
        |  SELECT u, u + 10 FROM nodes WHERE u % 10 = 3 AND u + 10 <= 96),
        |r(s, t) AS (
        |  SELECT s, t FROM e
        |  UNION
        |  SELECT r.s, e.t FROM r JOIN e ON e.s = r.t),
        |mutual AS (
        |  SELECT a.s AS u, a.t AS v FROM r a JOIN r b
        |    ON b.s = a.t AND b.t = a.s)
        |SELECT n.u AS id,
        |  CAST(least(n.u, coalesce(min(m.v), n.u)) AS BIGINT) AS scc
        |FROM nodes n LEFT JOIN mutual m ON m.u = n.u
        |GROUP BY n.u ORDER BY id""".stripMargin),

    // co-citation: hosts linked from the same page, counted over
    // unordered pairs — a bounded per-page self-join (≤ 3 links/page ⇒
    // ≤ 3 pairs/page), never a host×host product
    Q("q260_cocitation", (s, dir) => {
      val links = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), explode(array(
          expr("(doc_id * 31 + 7) % 97"),
          expr("(doc_id * 17 + 23) % 97"),
          expr("(doc_id * 53 + 41) % 97"))).as("h"))
        .distinct()
      val a = links.withColumnRenamed("h", "host_a")
      val b = links.withColumnRenamed("h", "host_b")
      a.join(b, "doc_id")
        .where(col("host_a") < col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(count(lit(1)).as("n_pages"))
        .where(col("n_pages") >= 2)
    },
      """WITH links AS (SELECT DISTINCT doc_id, h FROM (
        |    SELECT doc_id, unnest([
        |      (doc_id * 31 + 7) % 97,
        |      (doc_id * 17 + 23) % 97,
        |      (doc_id * 53 + 41) % 97]) AS h
        |    FROM documents))
        |SELECT a.h AS host_a, b.h AS host_b,
        |  CAST(count(*) AS BIGINT) AS n_pages
        |FROM links a JOIN links b
        |  ON b.doc_id = a.doc_id AND a.h < b.h
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin),

    // dedup yield: how many near-dup clusters of each size the corpus
    // holds — the report every dedup run publishes; cluster membership
    // via the CC operator, then two keyed aggregations
    Q("q266_dedup_yield", (s, dir) => {
      import graft.text.TextOps
      TextOps.dedupComponents(
          TextFixtures.nearDupCorpus(s, dir, " graftmark near dup copy"),
          "doc_id", "text", n = 3, tau = 0.5)
        .groupBy("rep_id").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
    },
      s"""WITH RECURSIVE
         |nodes AS (SELECT doc_id AS id FROM
         |  (${TextFixtures.nearDupCorpusSql(" graftmark near dup copy")}) c0),
         |p AS (SELECT id_a, id_b FROM (
         |  ${jaccardPairsSql(
            TextFixtures.nearDupCorpusSql(" graftmark near dup copy"),
            0.5)}) jp),
         |edges AS (SELECT id_a AS u, id_b AS v FROM p
         |          UNION ALL SELECT id_b AS u, id_a AS v FROM p),
         |r AS (
         |  SELECT id AS u, id AS v FROM nodes
         |  UNION
         |  SELECT r.u, e.v FROM r JOIN edges e ON r.v = e.u),
         |comp AS (SELECT u AS doc_id, min(v) AS rep_id FROM r GROUP BY u),
         |sz AS (SELECT rep_id, count(*) AS cluster_size FROM comp
         |       GROUP BY rep_id)
         |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
         |  CAST(count(*) AS BIGINT) AS n_clusters
         |FROM sz GROUP BY cluster_size""".stripMargin),

    // distance profile: N(t) = reachable (landmark, node) pairs within t
    // hops, 8 landmarks riding one bitset long per node — one bit_or
    // aggregate per round instead of 8 BFS jobs; the oracle recomputes
    // min-distances per landmark with a recursive closure
    Q("q267_neighborhood_fn", (s, dir) =>
      graft.graph.MultiBfs.neighborhoodFunction(
        chainEdges(s, dir), landmarks),
      """WITH RECURSIVE nodes AS (
        |  SELECT DISTINCT doc_id % 97 AS u FROM documents),
        |e AS (
        |  SELECT u AS s, (u - u % 10) + ((u % 10) + 1)
        |      % (CASE WHEN u >= 90 THEN 7 ELSE 10 END) AS t
        |  FROM nodes
        |  UNION ALL
        |  SELECT u, u + 10 FROM nodes WHERE u % 10 = 3 AND u + 10 <= 96),
        |lm(s) AS (VALUES (0), (13), (26), (39), (52), (65), (78), (91)),
        |r(s, v, d) AS (
        |  SELECT s, s, 0 FROM lm
        |  UNION
        |  SELECT r.s, e.t, r.d + 1 FROM r JOIN e ON e.s = r.v
        |  WHERE r.d < 96),
        |mind AS (SELECT s, v, min(d) AS d FROM r GROUP BY 1, 2),
        |ts AS (SELECT unnest(range(0, (SELECT max(d) + 1 FROM mind)))
        |         AS t)
        |SELECT CAST(ts.t AS BIGINT) AS t,
        |  CAST((SELECT count(*) FROM mind WHERE mind.d <= ts.t)
        |    AS BIGINT) AS n_pairs
        |FROM ts""".stripMargin),

    // reciprocity: the fraction of directed links whose reverse edge
    // exists — the mutual-citation signal; one self-equi-join on the
    // canonical edge key, exact 1e6-unit division
    Q("q269_reciprocity", (s, dir) => {
      val e = s.read.parquet(s"$dir/documents.parquet")
        .select((col("doc_id") % 97).as("src"),
          expr("(doc_id * 31 + 7) % 97").as("dst"))
        .where(col("src") =!= col("dst")).distinct()
      val rev = e.select(col("dst").as("src"), col("src").as("dst"))
      val recip = e.intersect(rev)
      e.agg(count(lit(1)).as("n_edges"))
        .crossJoin(recip.agg(count(lit(1)).as("n_reciprocal")))
        .withColumn("reciprocity_e6",
          expr("(1000000 * n_reciprocal) div n_edges"))
    },
      """WITH e AS (SELECT DISTINCT doc_id % 97 AS src,
        |    (doc_id * 31 + 7) % 97 AS dst
        |  FROM documents WHERE doc_id % 97 <> (doc_id * 31 + 7) % 97),
        |r AS (SELECT count(*) AS n_reciprocal FROM e a
        |      JOIN e b ON b.src = a.dst AND b.dst = a.src),
        |n AS (SELECT count(*) AS n_edges FROM e)
        |SELECT CAST(n_edges AS BIGINT) AS n_edges,
        |  CAST(n_reciprocal AS BIGINT) AS n_reciprocal,
        |  CAST((1000000 * n_reciprocal) // n_edges AS BIGINT)
        |    AS reciprocity_e6
        |FROM n, r""".stripMargin),

    // rich-club: for k = 1..max, phi(k) in micro-units = 1e6 · 2·E_k /
    // (N_k·(N_k−1)) where N_k = hubs with degree > k and E_k = edges among
    // them — degree join + one aggregation per side, never an N_k² product
    Q("q273_rich_club", (s, dir) => {
      val und = linkEdges(s, dir)
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .where(col("a") =!= col("b")).distinct()
        .transform(graft.spark.PersistTracker.persist)
      val deg = und.select(col("a").as("id"))
        .unionAll(und.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
        .transform(graft.spark.PersistTracker.persist)
      val ks = s.range(1, 13).select(col("id").as("k"))
      val nk = ks.join(deg, col("deg") > col("k"))
        .groupBy("k").agg(count(lit(1)).as("n_k"))
      val ek = und
        .join(deg.withColumnsRenamed(Map("id" -> "a", "deg" -> "da")), "a")
        .join(deg.withColumnsRenamed(Map("id" -> "b", "deg" -> "db")), "b")
        .crossJoin(broadcast(ks))
        .where(col("da") > col("k") && col("db") > col("k"))
        .groupBy("k").agg(count(lit(1)).as("e_k"))
      nk.join(ek, Seq("k"), "left")
        .select(col("k"), col("n_k"),
          coalesce(col("e_k"), lit(0L)).as("e_k"))
        .where(col("n_k") >= 2)
        .withColumn("phi_e6",
          expr("(2000000 * e_k) div (n_k * (n_k - 1))"))
    },
      """WITH e0 AS (SELECT DISTINCT doc_id % 97 AS a0,
        |    (doc_id * 31 + p) % 97 AS b0
        |  FROM documents, (SELECT unnest([7919, 15838, 23757]) AS p)
        |  WHERE doc_id % 5 <> 0),
        |e AS (SELECT DISTINCT least(a0, b0) AS a, greatest(a0, b0) AS b
        |      FROM e0 WHERE a0 <> b0),
        |deg AS (SELECT id, count(*) AS deg FROM
        |    (SELECT a AS id FROM e UNION ALL SELECT b FROM e)
        |  GROUP BY id),
        |ks AS (SELECT unnest(range(1, 13)) AS k),
        |nk AS (SELECT k, count(*) AS n_k
        |       FROM ks JOIN deg ON deg.deg > ks.k GROUP BY k),
        |ek AS (SELECT k, count(*) AS e_k
        |  FROM e JOIN deg da ON da.id = e.a JOIN deg db ON db.id = e.b
        |  CROSS JOIN ks
        |  WHERE da.deg > ks.k AND db.deg > ks.k GROUP BY k)
        |SELECT CAST(nk.k AS BIGINT) AS k, CAST(n_k AS BIGINT) AS n_k,
        |  CAST(coalesce(e_k, 0) AS BIGINT) AS e_k,
        |  CAST((2000000 * coalesce(e_k, 0)) // (n_k * (n_k - 1))
        |    AS BIGINT) AS phi_e6
        |FROM nk LEFT JOIN ek ON ek.k = nk.k
        |WHERE n_k >= 2""".stripMargin),

    // identity stitching: users sharing a props.k value are the same
    // principal — per-k star edges (min user ← user) then connected
    // components; the oracle closes the same pair set recursively
    Q("q293_identity_stitch", (s, dir) => {
      val uk = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .where(col("k") % 7 === 0) // sparse signal: only some props link
        .distinct()
      val minu = uk.groupBy("k").agg(min("user_id").as("mu"))
      val pairs = uk.join(minu, "k")
        .where(col("user_id") =!= col("mu"))
        .select(col("mu").as("id_a"), col("user_id").as("id_b"))
        .distinct()
      val nodes = uk.select(col("user_id").as("id")).distinct()
      graft.text.TextOps.connectedComponents(nodes, pairs)
        .select(col("doc_id").as("user_id"),
          col("rep_id").as("identity_rep"))
    },
      """WITH RECURSIVE uk AS (SELECT DISTINCT user_id,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events
        |  WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) % 7 = 0),
        |minu AS (SELECT k, min(user_id) AS mu FROM uk GROUP BY k),
        |p AS (SELECT DISTINCT minu.mu AS id_a, uk.user_id AS id_b
        |  FROM uk JOIN minu ON minu.k = uk.k
        |  WHERE uk.user_id <> minu.mu),
        |edges AS (SELECT id_a AS u, id_b AS v FROM p
        |          UNION ALL SELECT id_b, id_a FROM p),
        |nodes AS (SELECT DISTINCT user_id AS id FROM uk),
        |r AS (
        |  SELECT id AS u, id AS v FROM nodes
        |  UNION
        |  SELECT r.u, e.v FROM r JOIN edges e ON e.u = r.v)
        |SELECT u AS user_id, CAST(min(v) AS BIGINT) AS identity_rep
        |FROM r GROUP BY u""".stripMargin),

    // edge churn: the link graph built from the first half of the corpus
    // vs the second — carried / dropped / new edge counts, the crawl-to-
    // crawl structural-drift report; two DISTINCT edge sets, one full
    // outer join on the edge key
    Q("q296_edge_churn", (s, dir) => {
      def half(lo: Boolean) = s.read.parquet(s"$dir/documents.parquet")
        .where(if (lo) col("doc_id") % 2 === 0 else col("doc_id") % 2 === 1)
        .select((col("doc_id") % 97).as("src"),
          expr("(doc_id * 31 + 7) % 97").as("dst"))
        .where(col("src") =!= col("dst")).distinct()
      val a = half(true).withColumn("in_a", lit(1))
      val b = half(false).withColumn("in_b", lit(1))
      a.join(b, Seq("src", "dst"), "full")
        .agg(
          sum(when(col("in_a").isNotNull && col("in_b").isNotNull, 1L)
            .otherwise(0L)).as("carried"),
          sum(when(col("in_a").isNotNull && col("in_b").isNull, 1L)
            .otherwise(0L)).as("dropped"),
          sum(when(col("in_a").isNull && col("in_b").isNotNull, 1L)
            .otherwise(0L)).as("added"))
    },
      """WITH a AS (SELECT DISTINCT doc_id % 97 AS src,
        |    (doc_id * 31 + 7) % 97 AS dst
        |  FROM documents WHERE doc_id % 2 = 0
        |    AND doc_id % 97 <> (doc_id * 31 + 7) % 97),
        |b AS (SELECT DISTINCT doc_id % 97 AS src,
        |    (doc_id * 31 + 7) % 97 AS dst
        |  FROM documents WHERE doc_id % 2 = 1
        |    AND doc_id % 97 <> (doc_id * 31 + 7) % 97)
        |SELECT
        |  CAST((SELECT count(*) FROM a JOIN b USING (src, dst)) AS BIGINT)
        |    AS carried,
        |  CAST((SELECT count(*) FROM a ANTI JOIN b USING (src, dst))
        |    AS BIGINT) AS dropped,
        |  CAST((SELECT count(*) FROM b ANTI JOIN a USING (src, dst))
        |    AS BIGINT) AS added""".stripMargin),

    // average neighbor degree: the per-node form of degree
    // assortativity — hubs attached to hubs vs leaves; one degree join
    // per edge side, exact micro-unit ratio
    Q("q303_avg_neighbor_degree", (s, dir) => {
      val und = s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"),
          explode(array(lit(7919L), lit(15838L), lit(23757L))).as("p"))
        .select((col("doc_id") % 97).as("src"),
          ((col("doc_id") * 31 + col("p")) % 97).as("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .where(col("a") =!= col("b")).distinct()
        .transform(graft.spark.PersistTracker.persist)
      val deg = und.select(col("a").as("id"))
        .unionAll(und.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
        .transform(graft.spark.PersistTracker.persist)
      val nbr = und.select(col("a").as("id"), col("b").as("nb"))
        .unionAll(und.select(col("b").as("id"), col("a").as("nb")))
      nbr.join(deg.toDF("nb", "nb_deg"), "nb")
        .groupBy("id").agg(sum("nb_deg").as("sum_nb_deg"))
        .join(deg, "id")
        .select(col("id"), col("deg"), col("sum_nb_deg"),
          expr("(1000000 * sum_nb_deg) div deg").as("and_e6"))
    },
      """WITH e0 AS (SELECT DISTINCT doc_id % 97 AS a0,
        |    (doc_id * 31 + p) % 97 AS b0
        |  FROM documents, (SELECT unnest([7919, 15838, 23757]) AS p)
        |  WHERE doc_id % 5 <> 0),
        |e AS (SELECT DISTINCT least(a0, b0) AS a, greatest(a0, b0) AS b
        |      FROM e0 WHERE a0 <> b0),
        |deg AS (SELECT id, count(*) AS deg FROM
        |    (SELECT a AS id FROM e UNION ALL SELECT b FROM e)
        |  GROUP BY id),
        |nbr AS (SELECT a AS id, b AS nb FROM e
        |        UNION ALL SELECT b, a FROM e),
        |s AS (SELECT nbr.id, sum(d2.deg) AS sum_nb_deg
        |  FROM nbr JOIN deg d2 ON d2.id = nbr.nb GROUP BY nbr.id)
        |SELECT s.id, CAST(deg.deg AS BIGINT) AS deg,
        |  CAST(sum_nb_deg AS BIGINT) AS sum_nb_deg,
        |  CAST((1000000 * sum_nb_deg) // deg.deg AS BIGINT) AS and_e6
        |FROM s JOIN deg ON deg.id = s.id""".stripMargin)
  )
}
