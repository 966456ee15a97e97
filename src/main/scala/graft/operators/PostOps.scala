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
    * dropped entirely (docs SA_ch05_surrogate.md:427-438). */
  def merge(a: DataFrame, b: DataFrame, f1: Double, f2: Double,
            outCode: Int): DataFrame = {
    val al = a.select(col("fips"), col("col"), col("row"), col("frac").as("__fa"))
    val bl = b.select(col("fips"), col("col"), col("row"), col("frac").as("__fb"))
    val joined = al.join(bl, Seq("fips", "col", "row"), "full_outer")
    // counties must exist in both inputs (county-level semi joins)
    val inBoth = a.select("fips").distinct()
      .join(b.select("fips").distinct(), "fips")
    val w = Window.partitionBy("fips").orderBy("row", "col")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    joined.join(broadcast(inBoth), "fips")
      .withColumn("frac",
        coalesce(col("__fa"), lit(0.0)) * f1 + coalesce(col("__fb"), lit(0.0)) * f2)
      .where(col("frac") =!= 0.0)
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
    val best = tagged.groupBy("fips").agg(min("__prio").as("__prio"))
    tagged.join(broadcast(best), Seq("fips", "__prio"))
      .withColumn("srg_code", lit(outCode))
      .select("srg_code", "fips", "col", "row", "frac", "filled_from")
  }

  /** Deterministic per-county Σfrac: computed as the LAST value of a running
    * sum in (row, col) order rather than an unordered aggregate, so the
    * float addition order is fixed — results are bit-identical across
    * partitionings/cluster sizes (and match the reference, which also sums
    * in output order, surrogate.c:413-414). */
  private def countySum: Column = {
    val run = Window.partitionBy("srg_code", "fips").orderBy("row", "col")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    max(sum(col("frac")).over(run))
      .over(Window.partitionBy("srg_code", "fips"))
  }

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
    * side is missing — also the engine's own regression harness. */
  def diffSurr(a: DataFrame, b: DataFrame, tol: Double = 1e-5): DataFrame = {
    val al = a.select(col("fips"), col("col"), col("row"), col("frac").as("frac_a"))
    val bl = b.select(col("fips"), col("col"), col("row"), col("frac").as("frac_b"))
    al.join(bl, Seq("fips", "col", "row"), "full_outer")
      .where(col("frac_a").isNull || col("frac_b").isNull ||
             abs(col("frac_a") - col("frac_b")) > tol)
  }
}
