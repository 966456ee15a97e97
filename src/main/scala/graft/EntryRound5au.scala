package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._

/** Round-5 forty-seventh batch: OLAP surface — ROLLUP cube with
  * grouping_id over (lang, source), the classic star join through the
  * dimension chain (orders → customer → nation → region, every dimension
  * broadcast), and the text-reuse direction graph (who copied whom, from
  * containment + capture timestamps). */
object EntryRound5au {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ROLLUP: per-(lang, source) doc counts with subtotal and grand-total
    // rows, grouping_id disambiguating NULL-as-all from NULL-as-value —
    // Catalyst expands to one Expand + one aggregate (one shuffle for
    // all levels); oracle = DuckDB ROLLUP with GROUPING()
    "q279_rollup_cube" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .rollup(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars"),
          grouping_id().cast("int").as("gid"))),

    // star join: revenue by region × order priority through the 3-hop
    // dimension chain; dims are broadcast (5/25/150 rows) so the fact
    // table never shuffles — THE canonical OLAP plan shape; revenue kept
    // in exact cents
    "q280_star_join" -> ((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_custkey"), col("o_orderpriority"),
          expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"))
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_nationkey"))
      val nat = s.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey"), col("n_regionkey"))
      val reg = s.read.parquet(s"$dir/region.parquet")
        .select(col("r_regionkey"), col("r_name"))
      orders
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("cents")).as("revenue_cents"))
    }),

    // reuse direction: high-containment page pairs ordered by capture
    // time — the earlier page is the source, the later the copier; the
    // per-host copy balance (out-copies − in-copies) flags aggregators.
    // Containment via shared 3-shingles over a suffix-marked corpus
    "q281_reuse_direction" -> ((s, dir) => {
      // near-dup corpus: copies (id+100000) carry LATER timestamps, so
      // every original→copy edge points forward in time.
      //
      // Plan shape (rebuilt this round, value-identical output, oracle
      // unchanged): the original shingle self-join materialized Σ c² ≈ 16M
      // candidate rows for ~6k qualifying pairs. The containment test
      // m ≥ ⌈0.8·n_late⌉ admits the Containment prefix filter (frequency-
      // ordered pigeonhole, provably complete — see Containment.scala), so
      // candidates shrink to the prefix⋈postings join and each pair pays
      // ONE merge-intersect over its two sorted hashed-shingle sets.
      // host/ts are pure functions of doc_id and are derived AFTER pairing
      // (§2.3: shuffle keys, not payloads); trigram identity is the 64-bit
      // span hash of the PPJoin/MinHash family — counts of hashes equal
      // counts of strings modulo the documented-negligible collision
      // class, bit-verified against the string-side oracle at every SF.
      import graft.text.{Containment, TextHash}
      val sets = graft.fixtures.TextFixtures
        .nearDupCorpus(s, dir, " via syndication feed")
        .select(col("doc_id").as("id"),
          TextHash.shingleHashSetUdf(3)(col("text")).as("shs"))
        .where(size(col("shs")) > 0)
        .transform(graft.spark.PersistTracker.persist)
      // ts = 1600000000 + id·137 is strictly increasing in id, so the
      // LATER doc of a pair (id_a < id_b) is always id_b
      val dir2 = Containment.candidatePairs(sets, 800)
        .join(sets.select(col("id").as("id_a"), col("shs").as("__sa")), "id_a")
        .join(sets.select(col("id").as("id_b"), col("shs").as("__sb")), "id_b")
        .withColumn("m", TextHash.overlapVerifyUdf(col("__sa"), col("__sb")))
        .select(col("id_a"), col("id_b"), col("m"),
          size(col("__sb")).as("n_late"))
        // The 0.8 threshold compares counts of 64-bit FNV-1a trigram
        // hashes, not trigram strings. Two distinct trigrams with one hash
        // merge inside a doc (n_late drops by one) or match across docs
        // (m rises by one); either can flip a pair that sits on the
        // boundary. The odds are about 2⁻⁶⁴ per trigram pair. q156
        // (Containment.containmentPairs, tauMilli = 800) shares this class.
        // Both are oracle-checked against the string-side DuckDB SQL;
        // re-certify at the largest SF whenever the corpus grows.
        .where(col("m") * 10 >= col("n_late") * 8)
        .withColumn("src_host", col("id_a") % 97)
        .withColumn("dst_host", col("id_b") % 97)
      dir2.groupBy("src_host", "dst_host")
        .agg(count(lit(1)).as("n_copies"))
    })
  )

  def oracles: Map[String, String] = Map(

    "q279_rollup_cube" ->
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |  CAST(grouping(lang) * 2 + grouping(source) AS INT) AS gid
        |FROM documents GROUP BY ROLLUP (lang, source)""".stripMargin,

    "q280_star_join" ->
      """SELECT r_name, o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |    AS BIGINT) AS revenue_cents
        |FROM orders
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation ON n_nationkey = c_nationkey
        |JOIN region ON r_regionkey = n_regionkey
        |GROUP BY 1, 2""".stripMargin,

    "q281_reuse_direction" ->
      """WITH c0 AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text || ' via syndication feed'
        |  FROM documents),
        |d AS (SELECT doc_id, text,
        |    1600000000 + doc_id * 137 AS ts, doc_id % 97 AS host
        |  FROM c0),
        |w AS (SELECT doc_id, host, ts, string_split(text, ' ') AS ws
        |      FROM d),
        |sh AS (SELECT DISTINCT doc_id, host, ts,
        |    unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |            FOR i IN range(1, len(ws) - 1)]) AS sh
        |  FROM w),
        |nsh AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    a.host AS host_a, b.host AS host_b, a.ts AS ts_a,
        |    b.ts AS ts_b, count(*) AS m
        |  FROM sh a JOIN sh b ON b.sh = a.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4, 5, 6),
        |dirp AS (SELECT
        |    CASE WHEN ts_a <= ts_b THEN host_a ELSE host_b END AS src_host,
        |    CASE WHEN ts_a <= ts_b THEN host_b ELSE host_a END AS dst_host,
        |    m,
        |    CASE WHEN ts_a <= ts_b THEN nb.n ELSE na.n END AS n_late
        |  FROM pairs
        |  JOIN nsh na ON na.doc_id = pairs.id_a
        |  JOIN nsh nb ON nb.doc_id = pairs.id_b)
        |SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_copies
        |FROM dirp WHERE m * 10 >= n_late * 8
        |GROUP BY 1, 2""".stripMargin
  )
}
