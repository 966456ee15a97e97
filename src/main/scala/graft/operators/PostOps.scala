package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Surrogate post-processing — the Java SurrogateTools layer
  * (src/SurrogateTools/src/gov/epa/surrogate/{merge,gapfill,normalize,qa})
  * re-expressed as DataFrame passes over the standard surrogate-row schema
  * (srg_code, fips, col, row, frac[, numer, denom, qasum]).
  *
  * No op sorts its output: row order is the sink's job (Smoke.write
  * renders each county in (row, col) order and orders the counties it
  * collects by (code, fips), the reference's file order), and a global
  * sort would cost a sampling pass and a range exchange per call.
  */
object PostOps {

  /** MERGE (merge/MergeCounties.java:26-141): out = f1·srg1 + f2·srg2 over
    * the UNION of (fips,col,row) cells, a missing side contributing 0
    * (one-sided copy, :117-141). Counties absent from EITHER input are
    * dropped entirely (docs SA_ch05_surrogate.md:427-438).
    *
    * One union and one exchange: both sides, scaled and tagged by side,
    * move once on fips; the cell sum, the county's side flags and qasum
    * all run inside that partitioning. A cell sums at most one term per
    * side, so the sum is the two-term addition in either order. */
  def merge(a: DataFrame, b: DataFrame, f1: Double, f2: Double,
            outCode: Int): DataFrame = {
    def side(df: DataFrame, f: Double, inA: Int): DataFrame =
      df.select(col("fips"), col("col"), col("row"), (col("frac") * f).as("frac"),
        lit(inA).as("__a"), lit(1 - inA).as("__b"))
    val county = Window.partitionBy("fips")
    val w = county.orderBy("row", "col")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    side(a, f1, 1).unionByName(side(b, f2, 0))
      .repartition(col("fips"))
      .groupBy("fips", "col", "row")
      // sum is nullable; coalesce keeps frac non-nullable, as the inputs' frac
      .agg(coalesce(sum("frac"), lit(0.0)).as("frac"),
        max("__a").as("__a"), max("__b").as("__b"))
      // counties must exist in both inputs
      .withColumn("__both", max("__a").over(county) * max("__b").over(county))
      .where(col("__both") === 1 && col("frac") =!= 0.0)
      .withColumn("srg_code", lit(outCode))
      .withColumn("qasum", sum("frac").over(w))
      .select("srg_code", "fips", "col", "row", "frac", "qasum")
  }

  /** GAPFILL (gapfill/Gapfilling.java:24-43): county-level COALESCE down a
    * priority list of surrogates — a county takes ALL its rows from the
    * first surrogate in the cascade that has it. Output records which code
    * filled each county (the output-comment semantics of the tool). */
  def gapfill(cascade: Seq[DataFrame], outCode: Int): DataFrame = {
    require(cascade.nonEmpty)
    // rank each county by the first cascade position that covers it
    val tagged = cascade.zipWithIndex.map { case (df, i) =>
      df.select(col("fips"), col("col"), col("row"), col("frac"),
                col("srg_code").as("filled_from"), lit(i).as("__prio"))
    }.reduce(_ unionByName _)
    tagged.withColumn("__best", min("__prio").over(Window.partitionBy("fips")))
      .where(col("__prio") === col("__best"))
      .withColumn("srg_code", lit(outCode))
      .select("srg_code", "fips", "col", "row", "frac", "filled_from")
  }

  /** Deterministic per-county Σfrac: one window over the whole county,
    * ordered by (row, col), so the float addition order is fixed — results
    * are bit-identical across partitionings/cluster sizes (and match the
    * reference, which also sums in output order, surrogate.c:413-414). The
    * frame is the whole county, so a negative fraction (a merge with a
    * negative coefficient) counts: the total, not the largest prefix sum. */
  private def countySum: Column =
    sum(col("frac")).over(Window.partitionBy("srg_code", "fips").orderBy("row", "col")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))

  /** NORMALIZE (normalize/NormalizeSurrogates.java, County.java:34-58): per
    * county, when |Σfrac − 1| > tol, rescale frac := frac/Σfrac; counties on
    * an exclude list (grid-border counties) are left untouched. */
  def normalize(srg: DataFrame, tol: Double = 1e-6,
                excludeFips: Seq[String] = Nil): DataFrame = {
    val excluded = if (excludeFips.isEmpty) lit(false)
                   else col("fips").isin(excludeFips: _*)
    srg.withColumn("__sum", countySum)
      .withColumn("frac",
        when(!excluded && abs(col("__sum") - 1.0) > tol,
             col("frac") / col("__sum"))
          .otherwise(col("frac")))
      .drop("__sum")
  }

  /** QA reports (qa package): per-county pivots over surrogate codes.
    * kind ∈ summary | not1 | threshold | nodata. Passing the known
    * surrogate `codes` skips the pivot's distinct-values job (one less
    * pass over the union — same parameter as qaGapfill). */
  def qaSummary(srg: DataFrame, codes: Seq[Int] = Nil): DataFrame = {
    val p = srg.withColumn("__sum", countySum)
    val piv = if (codes.isEmpty) p.groupBy("fips").pivot("srg_code")
              else p.groupBy("fips").pivot("srg_code", codes)
    piv.agg(round(first("__sum"), 8))
  }

  /** Counties whose Σfrac deviates from 1 by more than tol
    * (qa/SurrogateNot1Report.java). */
  def qaNot1(srg: DataFrame, tol: Double = 1e-5): DataFrame =
    srg.withColumn("__sum", countySum)
      .groupBy("srg_code", "fips").agg(first("__sum").as("sum_frac"))
      .where(abs(col("sum_frac") - 1.0) > tol)

  /** Gapfill report (qa/QAReports.java gapfill pivot): per county × output
    * surrogate code, WHICH source code filled it — input is gapfilled
    * tables (PostOps.gapfill output carrying `filled_from`), unioned.
    * Passing the known output `codes` skips the pivot's distinct-values
    * job (one less pass over the union). */
  def qaGapfill(filled: DataFrame, codes: Seq[Int] = Nil): DataFrame = {
    val p = if (codes.isEmpty) filled.groupBy("fips").pivot("srg_code")
            else filled.groupBy("fips").pivot("srg_code", codes)
    // filled_from is constant per (fips, code); min = deterministic
    p.agg(min("filled_from"))
  }

  /** Rows with frac ≥ t (default 0.5, qa/Threshold.java:9). */
  def qaThreshold(srg: DataFrame, t: Double = 0.5): DataFrame =
    srg.where(col("frac") >= t)
      .select("srg_code", "fips", "col", "row", "frac")

  /** Counties present in `universe` but missing from the surrogate
    * (qa/SurrogateNoDataReport.java). */
  def qaNoData(srg: DataFrame, universe: DataFrame): DataFrame =
    universe.select("fips").distinct()
      .join(srg.select("fips").distinct(), Seq("fips"), "left_anti")

  /** diffsurr (diffsurr.c:45-234): align two surrogate tables on
    * (fips, col, row) and report rows where |frac_a − frac_b| > tol or one
    * side is missing — also the engine's own regression harness. The two
    * sides are unioned and each cell keeps the one frac of each side. */
  def diffSurr(a: DataFrame, b: DataFrame, tol: Double = 1e-5): DataFrame = {
    val none = lit(null).cast("double")
    def side(df: DataFrame, fa: Column, fb: Column): DataFrame =
      df.select(col("fips"), col("col"), col("row"), fa.as("frac_a"), fb.as("frac_b"))
    side(a, col("frac"), none).unionByName(side(b, none, col("frac")))
      .groupBy("fips", "col", "row")
      .agg(max("frac_a").as("frac_a"), max("frac_b").as("frac_b"))
      .where(col("frac_a").isNull || col("frac_b").isNull ||
             abs(col("frac_a") - col("frac_b")) > tol)
  }
}
