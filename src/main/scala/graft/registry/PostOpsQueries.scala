package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.fixtures.TpchGeo
import graft.fixtures.TpchGeo.{domain, grid, zres}
import graft.operators.{Beld, PostOps, Surrogate}
import SpatialQueries.{srgAreaStmt, srgPointStmt}

/** The surrogate post-passes: merge, gapfill, normalize, QA and
  * diffsurr, plus the BELD3 merge and QA. */
object PostOpsQueries {

  private val areaSrgRel = s"(${srgAreaStmt})"

  private val pointSrgRel = s"(${srgPointStmt})"

  // localCheckpoint(true): q46 reads each table twice (once in each of its
  // two gapfill cascades), and without a within-query materialization each read
  // rebuilds the whole upstream surrogate pipeline (spatial join +
  // aggregation). Eager localCheckpoint materializes through the codegen
  // path once per query call; the county-bounded tables are small.
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

  /** merged table as a subquery (shared by q24/q26/q28 oracles). */
  private val mergedSql: String =
    s"""SELECT 500 AS srg_code, fips, col, "row", frac,
       |  sum(frac) OVER (PARTITION BY fips ORDER BY "row", col) AS qasum
       |FROM (
       |  SELECT coalesce(a.fips, b.fips) AS fips,
       |    coalesce(a.col, b.col) AS col,
       |    coalesce(a."row", b."row") AS "row",
       |    coalesce(a.frac, 0.0) * $F1 + coalesce(b.frac, 0.0) * $F2 AS frac
       |  FROM $pointSrgRel a FULL OUTER JOIN $areaSrgRel b
       |    ON a.fips = b.fips AND a.col = b.col AND a."row" = b."row")
       |WHERE frac <> 0""".stripMargin

  /** deterministic county total: last value of the ordered running sum. */
  private def countySumSql(rel: String): String =
    s"""SELECT *, max(run) OVER (PARTITION BY srg_code, fips) AS csum FROM (
       |  SELECT *, sum(frac) OVER (PARTITION BY srg_code, fips
       |    ORDER BY "row", col
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
       |  FROM $rel)""".stripMargin

  /** Shared q55/q56 fixture: three per-tile BELD-shaped wide tables at the
    * reference's full 230-variable width. Vars 0-228 are a sparse 0/2
    * landuse pattern; var 229 (in tile 1) tops each cell's total to
    * exactly 100, or 100.5 on the (col+row)%3 diagonal so the QA check
    * has real failures. All values stay on the integer/half lattice —
    * bit-exact under any summation order. */
  private def beld230(s: SparkSession, dir: String) = {
    import org.apache.spark.sql.expressions.Window
    val base = graft.sources.Sources.regularGrid(s, grid)
      .select(col("col"), col("row"))
      .crossJoin(s.range(1, 4).toDF("tile"))
      .withColumn("cellid", (col("row") - 1) * 8 + col("col"))
    val v228 = (0 to 228).map(i => expr(
      s"CAST(CASE WHEN (($i * 31) + tile * 5 + cellid) % 40 = 0 THEN 2.0 ELSE 0.0 END AS DOUBLE)"
    ).as(s"v_$i"))
    val wide = base.select(
      Seq(col("tile"), col("col"), col("row"), col("cellid")) ++ v228: _*)
    val rowSum = (0 to 228).map(i => col(s"v_$i")).reduce(_ + _)
    val cellSum = sum(rowSum).over(Window.partitionBy("col", "row"))
    val target = when(pmod(col("col") + col("row"), lit(3)) === 0, 100.5)
      .otherwise(100.0)
    val full = wide
      .withColumn("v_229", when(col("tile") === 1, target - cellSum).otherwise(0.0))
      .drop("cellid")
    val a = full.select(
      Seq(col("tile"), col("col"), col("row")) ++ (0 to 119).map(i => col(s"v_$i")): _*)
    val b = full.select(
      Seq(col("tile"), col("col"), col("row")) ++ (120 to 229).map(i => col(s"v_$i")): _*)
    val tot = full.select(col("tile"), col("col"), col("row"),
      col("v_0").as("FOREST"))
    (a, b, tot)
  }

  def all: Seq[Q] = Seq(
    // MERGE: 0.375·srg100 + 0.5·srg120 over the union of cells
    Q("q24_merge", (s, dir) =>
      PostOps.merge(srg100(s, dir), srg120(s, dir), F1, F2, outCode = 500),
      s"""SELECT CAST(srg_code AS INT) AS srg_code, fips, col, "row", frac, qasum
         |FROM ($mergedSql) ORDER BY fips, "row", col""".stripMargin),

    // GAPFILL: primary covers only fips ≥ 47009; srg120 fills the rest
    Q("q25_gapfill", (s, dir) =>
      PostOps.gapfill(Seq(
        srg100(s, dir).where(col("fips") >= "47009"),
        srg120(s, dir)), outCode = 600),
      s"""WITH t AS (
         |  SELECT fips, col, "row", frac, srg_code AS filled_from, 0 AS prio
         |  FROM $pointSrgRel WHERE fips >= '47009'
         |  UNION ALL
         |  SELECT fips, col, "row", frac, srg_code, 1 FROM $areaSrgRel),
         |best AS (SELECT fips, min(prio) AS prio FROM t GROUP BY 1)
         |SELECT CAST(600 AS INT) AS srg_code, fips, col, "row", frac,
         |  CAST(filled_from AS INT) AS filled_from
         |FROM t JOIN best USING (fips, prio)
         |ORDER BY fips, "row", col""".stripMargin),

    // NORMALIZE the merged table (each county sums to 0.875 → rescale to 1)
    Q("q26_normalize", (s, dir) =>
      PostOps.normalize(
          PostOps.merge(srg100(s, dir), srg120(s, dir), F1, F2, 500))
        .select("srg_code", "fips", "col", "row", "frac")
        .orderBy("fips", "row", "col"),
      s"""SELECT CAST(srg_code AS INT) AS srg_code, fips, col, "row",
         |  CASE WHEN abs(csum - 1.0) > 0.000001 THEN frac / csum
         |       ELSE frac END AS frac
         |FROM (${countySumSql(s"($mergedSql)")})
         |ORDER BY fips, "row", col""".stripMargin),

    // QA summary pivot over two surrogate codes
    Q("q27_qa_summary", (s, dir) =>
      PostOps.qaSummary(
        srg100(s, dir).select("srg_code", "fips", "col", "row", "frac")
          .unionByName(
            srg120(s, dir).select("srg_code", "fips", "col", "row", "frac")),
        codes = Seq(100, 120)),
      s"""WITH u AS (
         |  SELECT srg_code, fips, col, "row", frac FROM $pointSrgRel
         |  UNION ALL SELECT srg_code, fips, col, "row", frac FROM $areaSrgRel),
         |cs AS (${countySumSql("u")})
         |SELECT fips,
         |  round(max(CASE WHEN srg_code = 100 THEN csum END), 8) AS "100",
         |  round(max(CASE WHEN srg_code = 120 THEN csum END), 8) AS "120"
         |FROM cs GROUP BY fips ORDER BY fips""".stripMargin),

    // QA not-1 report on the merged table (all counties deviate)
    Q("q28_qa_not1", (s, dir) =>
      PostOps.qaNot1(
        PostOps.merge(srg100(s, dir), srg120(s, dir), F1, F2, 500)),
      s"""SELECT DISTINCT CAST(srg_code AS INT) AS srg_code, fips, csum AS sum_frac
         |FROM (${countySumSql(s"($mergedSql)")})
         |WHERE abs(csum - 1.0) > 0.00001
         |ORDER BY srg_code, fips""".stripMargin),

    // QA no-data report: counties in the universe missing from the surrogate
    Q("q29_qa_nodata", (s, dir) =>
      PostOps.qaNoData(srg100(s, dir).where(col("fips") >= "47009"),
                       TpchGeo.counties(s)),
      s"""SELECT fips FROM (${TpchGeo.countiesSql})
         |WHERE fips NOT IN (SELECT DISTINCT fips FROM $pointSrgRel WHERE fips >= '47009')
         |ORDER BY fips""".stripMargin),

    // diffsurr: srg120 vs merged(500) — missing sides + out-of-tol rows
    Q("q33_diffsurr", (s, dir) => {
      val a = Surrogate.polySurrogate(TpchGeo.tracts(s, dir),
        TpchGeo.counties(s), grid, domain, zres, 120, Some("p_size"))
      val b = Surrogate.pointSurrogate(TpchGeo.points(s, dir),
        TpchGeo.counties(s), grid, domain, zres, 100)
      PostOps.diffSurr(a, b, tol = 1e-5)
    },
      s"""SELECT coalesce(a.fips, b.fips) AS fips,
         |  coalesce(a.col, b.col) AS col,
         |  coalesce(a."row", b."row") AS "row",
         |  a.frac AS frac_a, b.frac AS frac_b
         |FROM $areaSrgRel a FULL OUTER JOIN $pointSrgRel b
         |  ON a.fips = b.fips AND a.col = b.col AND a."row" = b."row"
         |WHERE a.frac IS NULL OR b.frac IS NULL OR abs(a.frac - b.frac) > 0.00001
         |ORDER BY fips, "row", col""".stripMargin),

    // QA threshold report (qa/Threshold.java:9): rows with frac ≥ 0.5.
    Q("q36_qa_threshold", (s, dir) =>
      PostOps.qaThreshold(
        Surrogate.pointSurrogate(TpchGeo.points(s, dir), TpchGeo.counties(s),
          grid, domain, zres, 100), t = 0.05),
      s"""SELECT CAST(srg_code AS INT) AS srg_code, fips, col, "row", frac
         |FROM (${srgPointStmt})
         |WHERE frac >= 0.05
         |ORDER BY srg_code, fips, "row", col""".stripMargin),

    // QA gapfill pivot: per county × gapfilled code, which source filled it
    Q("q46_qa_gapfill", (s, dir) => {
      // build each surrogate ONCE (they are eagerly checkpointed): the
      // earlier four srgNNN(s, dir) calls materialized four full spatial
      // pipelines for two distinct tables
      val a = srg100(s, dir)
      val b = srg120(s, dir)
      val g600 = PostOps.gapfill(Seq(a.where(col("fips") >= "47009"), b), 600)
      val g610 = PostOps.gapfill(Seq(b.where(col("fips") <= "47008"), a), 610)
      PostOps.qaGapfill(g600.unionByName(g610), codes = Seq(600, 610))
    },
      s"""WITH c1 AS (SELECT DISTINCT fips FROM $pointSrgRel),
         |c2 AS (SELECT DISTINCT fips FROM $areaSrgRel),
         |r AS (SELECT fips,
         |    CASE WHEN fips IN (SELECT fips FROM c1 WHERE fips >= '47009') THEN 100
         |         WHEN fips IN (SELECT fips FROM c2) THEN 120 END AS "600",
         |    CASE WHEN fips IN (SELECT fips FROM c2 WHERE fips <= '47008') THEN 120
         |         WHEN fips IN (SELECT fips FROM c1) THEN 100 END AS "610"
         |  FROM (${TpchGeo.countiesSql}))
         |SELECT fips, CAST("600" AS INT) AS "600", CAST("610" AS INT) AS "610"
         |FROM r WHERE "600" IS NOT NULL OR "610" IS NOT NULL
         |ORDER BY fips""".stripMargin),

    // --- beld3smk 3-file merge at FULL 230-variable width (beld3smk.c:
    // 40-629): per-tile _a (vars 0-119) / _b (120-229) / _tot (FOREST)
    // wide tables merge across 3 tiles in ONE (col,row) hash agg each —
    // width rides in columns, never rows. Output unpivots to long form
    // only for the oracle compare. Var 229 tops every cell to exactly
    // 100 (or 100.5 on the QA-failing diagonal), so q56 exercises the
    // 100%-landuse warning path with real flagged cells.
    Q("q55_beld_merge", (s, dir) => {
      val (a, b, tot) = beld230(s, dir)
      val m = Beld.merge3(a, b, tot,
        (0 to 119).map(i => s"v_$i"), (120 to 229).map(i => s"v_$i"))
      val wide = m.a.join(m.b, Seq("col", "row"))
      val stackArgs = (0 to 229).map(i => s"'v_$i', v_$i").mkString(", ")
      wide.selectExpr("col", "row",
          s"stack(230, $stackArgs) AS (var, value)")
        .orderBy("var", "row", "col")
    },
      s"""WITH cl AS (${TpchGeo.cellsSql}),
         |cc AS (SELECT col, "row", ("row" - 1) * 8 + col AS cellid FROM cl),
         |v AS (SELECT col, "row", i,
         |    sum(CASE WHEN (i * 31 + t * 5 + cellid) % 40 = 0 THEN 2.0 ELSE 0.0 END) AS value
         |  FROM cc CROSS JOIN range(1, 4) r(t) CROSS JOIN range(229) vi(i)
         |  GROUP BY 1, 2, 3),
         |s AS (SELECT col, "row", sum(value) AS s228 FROM v GROUP BY 1, 2),
         |v229 AS (SELECT col, "row", CAST(229 AS BIGINT) AS i,
         |    (CASE WHEN (col + "row") % 3 = 0 THEN 100.5 ELSE 100.0 END) - s228 AS value
         |  FROM s)
         |SELECT 'v_' || CAST(i AS VARCHAR) AS var, col, "row", value
         |FROM (SELECT * FROM v UNION ALL SELECT * FROM v229)
         |ORDER BY var, "row", col""".stripMargin),

    // --- beld3smk QA report (beld3smk.c:496-509): cells whose summed
    // landuse differs from 100% by > 0.01, with the merged FOREST total
    Q("q56_beld_qa", (s, dir) => {
      val (a, b, tot) = beld230(s, dir)
      val m = Beld.merge3(a, b, tot,
        (0 to 119).map(i => s"v_$i"), (120 to 229).map(i => s"v_$i"))
      m.qa.join(m.tot.withColumnRenamed("FOREST", "forest_tot"), Seq("col", "row"))
        .orderBy("row", "col")
    },
      s"""WITH cl AS (${TpchGeo.cellsSql}),
         |cc AS (SELECT col, "row", ("row" - 1) * 8 + col AS cellid FROM cl),
         |tot AS (SELECT col, "row",
         |    sum(CASE WHEN (t * 5 + cellid) % 40 = 0 THEN 2.0 ELSE 0.0 END) AS forest_tot
         |  FROM cc CROSS JOIN range(1, 4) r(t) GROUP BY 1, 2),
         |q AS (SELECT col, "row",
         |    CASE WHEN (col + "row") % 3 = 0 THEN 100.5 ELSE 100.0 END AS total
         |  FROM cc)
         |SELECT col, "row", total, total - 100.0 AS pctdiff, forest_tot
         |FROM q JOIN tot USING (col, "row")
         |WHERE abs(total - 100.0) > 0.01
         |ORDER BY "row", col""".stripMargin)
  )
}
