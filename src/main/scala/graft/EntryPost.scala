package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import graft.fixtures.TpchGeo
import graft.fixtures.TpchGeo.{grid, domain, zres}
import graft.operators.{Surrogate, PostOps}

/** Surrogate post-processing queries — the Java SurrogateTools layer (merge /
  * gapfill / normalize / QA reports) driven end-to-end on engine-produced
  * surrogate tables and verified against closed-form oracles.
  *
  * Float discipline: per-county sums are computed as ordered running sums in
  * (row, col) order on BOTH sides (see PostOps.countySum), so addition order
  * — hence every output bit — is engine-independent. */
object EntryPost {

  // localCheckpoint(true): merge/gapfill reference each input TWICE (the
  // cell data path plus the county-membership path), so without a
  // within-query materialization every post-processing query rebuilds the
  // whole upstream surrogate pipeline (spatial join + aggregation) twice.
  // Eager localCheckpoint materializes through the codegen path once per
  // query call; the county-bounded tables are small.
  private def srg100(s: SparkSession, dir: String): DataFrame =
    Surrogate.pointSurrogate(TpchGeo.points(s, dir), TpchGeo.counties(s),
      grid, domain, zres, srgCode = 100)
      .localCheckpoint(true)

  private def srg120(s: SparkSession, dir: String): DataFrame =
    Surrogate.polySurrogate(TpchGeo.tracts(s, dir), TpchGeo.counties(s),
      grid, domain, zres, srgCode = 120, weight = Some("p_size"))
      .localCheckpoint(true)

  // f1 + f2 = 0.875 ≠ 1 on purpose: the merged table is the normalize /
  // qa-not1 input, so those passes have real work to do.
  private val F1 = 0.375
  private val F2 = 0.5

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // MERGE: 0.375·srg100 + 0.5·srg120 over the union of cells
    "q24_merge" -> ((s, dir) =>
      PostOps.merge(srg100(s, dir), srg120(s, dir), F1, F2, outCode = 500)),

    // GAPFILL: primary covers only fips ≥ 47009; srg120 fills the rest
    "q25_gapfill" -> ((s, dir) =>
      PostOps.gapfill(Seq(
        srg100(s, dir).where(col("fips") >= "47009"),
        srg120(s, dir)), outCode = 600)),

    // NORMALIZE the merged table (each county sums to 0.875 → rescale to 1)
    "q26_normalize" -> ((s, dir) =>
      PostOps.normalize(
          PostOps.merge(srg100(s, dir), srg120(s, dir), F1, F2, 500))
        .select("srg_code", "fips", "col", "row", "frac")
        .orderBy("fips", "row", "col")),

    // QA summary pivot over two surrogate codes
    "q27_qa_summary" -> ((s, dir) =>
      PostOps.qaSummary(
        srg100(s, dir).select("srg_code", "fips", "col", "row", "frac")
          .unionByName(
            srg120(s, dir).select("srg_code", "fips", "col", "row", "frac")),
        codes = Seq(100, 120))),

    // QA not-1 report on the merged table (all counties deviate)
    "q28_qa_not1" -> ((s, dir) =>
      PostOps.qaNot1(
        PostOps.merge(srg100(s, dir), srg120(s, dir), F1, F2, 500))),

    // QA no-data report: counties in the universe missing from the surrogate
    "q29_qa_nodata" -> ((s, dir) =>
      PostOps.qaNoData(srg100(s, dir).where(col("fips") >= "47009"),
                       TpchGeo.counties(s))),

    // QA gapfill pivot: per county × gapfilled code, which source filled it
    "q46_qa_gapfill" -> ((s, dir) => {
      // build each surrogate ONCE (they are eagerly checkpointed): the
      // earlier four srgNNN(s, dir) calls materialized four full spatial
      // pipelines for two distinct tables
      val a = srg100(s, dir)
      val b = srg120(s, dir)
      val g600 = PostOps.gapfill(Seq(a.where(col("fips") >= "47009"), b), 600)
      val g610 = PostOps.gapfill(Seq(b.where(col("fips") <= "47008"), a), 610)
      PostOps.qaGapfill(g600.unionByName(g610), codes = Seq(600, 610))
    })
  )

  // ------------------------------------------------------------- oracles

  private val s1 = s"(${SparkEntry.srgPointStmt})"
  private val s2 = s"(${SparkEntry.srgAreaStmt})"

  /** merged table as a subquery (shared by q24/q26/q28 oracles). */
  private val mergedSql: String =
    s"""SELECT 500 AS srg_code, fips, col, "row", frac,
       |  sum(frac) OVER (PARTITION BY fips ORDER BY "row", col) AS qasum
       |FROM (
       |  SELECT coalesce(a.fips, b.fips) AS fips,
       |    coalesce(a.col, b.col) AS col,
       |    coalesce(a."row", b."row") AS "row",
       |    coalesce(a.frac, 0.0) * $F1 + coalesce(b.frac, 0.0) * $F2 AS frac
       |  FROM $s1 a FULL OUTER JOIN $s2 b
       |    ON a.fips = b.fips AND a.col = b.col AND a."row" = b."row")
       |WHERE frac <> 0""".stripMargin

  /** deterministic county total: last value of the ordered running sum. */
  private def countySumSql(rel: String): String =
    s"""SELECT *, max(run) OVER (PARTITION BY srg_code, fips) AS csum FROM (
       |  SELECT *, sum(frac) OVER (PARTITION BY srg_code, fips
       |    ORDER BY "row", col
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
       |  FROM $rel)""".stripMargin

  def oracles: Map[String, String] = Map(
    "q24_merge" ->
      s"""SELECT CAST(srg_code AS INT) AS srg_code, fips, col, "row", frac, qasum
         |FROM ($mergedSql) ORDER BY fips, "row", col""".stripMargin,

    "q25_gapfill" ->
      s"""WITH t AS (
         |  SELECT fips, col, "row", frac, srg_code AS filled_from, 0 AS prio
         |  FROM $s1 WHERE fips >= '47009'
         |  UNION ALL
         |  SELECT fips, col, "row", frac, srg_code, 1 FROM $s2),
         |best AS (SELECT fips, min(prio) AS prio FROM t GROUP BY 1)
         |SELECT CAST(600 AS INT) AS srg_code, fips, col, "row", frac,
         |  CAST(filled_from AS INT) AS filled_from
         |FROM t JOIN best USING (fips, prio)
         |ORDER BY fips, "row", col""".stripMargin,

    "q26_normalize" ->
      s"""SELECT CAST(srg_code AS INT) AS srg_code, fips, col, "row",
         |  CASE WHEN abs(csum - 1.0) > 0.000001 THEN frac / csum
         |       ELSE frac END AS frac
         |FROM (${countySumSql(s"($mergedSql)")})
         |ORDER BY fips, "row", col""".stripMargin,

    "q27_qa_summary" ->
      s"""WITH u AS (
         |  SELECT srg_code, fips, col, "row", frac FROM $s1
         |  UNION ALL SELECT srg_code, fips, col, "row", frac FROM $s2),
         |cs AS (${countySumSql("u")})
         |SELECT fips,
         |  round(max(CASE WHEN srg_code = 100 THEN csum END), 8) AS "100",
         |  round(max(CASE WHEN srg_code = 120 THEN csum END), 8) AS "120"
         |FROM cs GROUP BY fips ORDER BY fips""".stripMargin,

    "q28_qa_not1" ->
      s"""SELECT DISTINCT CAST(srg_code AS INT) AS srg_code, fips, csum AS sum_frac
         |FROM (${countySumSql(s"($mergedSql)")})
         |WHERE abs(csum - 1.0) > 0.00001
         |ORDER BY srg_code, fips""".stripMargin,

    "q29_qa_nodata" ->
      s"""SELECT fips FROM (${TpchGeo.countiesSql})
         |WHERE fips NOT IN (SELECT DISTINCT fips FROM $s1 WHERE fips >= '47009')
         |ORDER BY fips""".stripMargin,

    "q46_qa_gapfill" ->
      s"""WITH c1 AS (SELECT DISTINCT fips FROM $s1),
         |c2 AS (SELECT DISTINCT fips FROM $s2),
         |r AS (SELECT fips,
         |    CASE WHEN fips IN (SELECT fips FROM c1 WHERE fips >= '47009') THEN 100
         |         WHEN fips IN (SELECT fips FROM c2) THEN 120 END AS "600",
         |    CASE WHEN fips IN (SELECT fips FROM c2 WHERE fips <= '47008') THEN 120
         |         WHEN fips IN (SELECT fips FROM c1) THEN 100 END AS "610"
         |  FROM (${TpchGeo.countiesSql}))
         |SELECT fips, CAST("600" AS INT) AS "600", CAST("610" AS INT) AS "610"
         |FROM r WHERE "600" IS NOT NULL OR "610" IS NOT NULL
         |ORDER BY fips""".stripMargin
  )
}
