package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cells.CellDomain
import graft.grid.GridSpec
import graft.operators.{Surrogate, PostOps, WeightKind}
import graft.io.Smoke

/** The Java SurrogateTool meta-pipeline (SurrogateTool.java:33;
  * SA_ch05_surrogate.md:94-138) as a library driver: a catalog of surrogate
  * specs, then merge / gapfill / normalize / QA post-passes, SMOKE files and
  * an SRGDESC index. Like the reference, which writes each srgcreate result
  * to a file that the post-pass tools then read, every generated and every
  * normalized table is materialized once (`localCheckpoint`, at most
  * counties × cells rows): the post-passes and sinks read those tables, so
  * none of them re-runs a surrogate's lineage. */
object SrgTool {

  // a spec's weight kind, under the names catalog callers use
  val PointW: WeightKind = WeightKind.PointW
  val LineW: WeightKind = WeightKind.LineW
  val PolyW: WeightKind = WeightKind.PolyW

  /** One generation row of the tool's surrogate-specification CSV. */
  final case class SrgSpec(code: Int, name: String, kind: WeightKind,
                           weights: DataFrame, weightAttr: Option[String] = None)

  final case class MergeSpec(outCode: Int, name: String,
                             a: Int, fa: Double, b: Int, fb: Double)
  /** `A;B;…` concatenation merge (SA_ch05_surrogate.md:440-450): union of
    * the referenced surrogate tables under the output code. */
  final case class ConcatSpec(outCode: Int, name: String, parts: Seq[Int])
  final case class GapfillSpec(outCode: Int, name: String, cascade: Seq[Int])

  final case class Result(srg: Map[Int, DataFrame], qaSummary: DataFrame,
                          qaNot1: DataFrame, srgdesc: Seq[(Int, String, String)])

  /** Run the whole catalog. Returns per-code surrogate tables + QA reports;
    * writes SMOKE text + SRGDESC when outDir is given. */
  def run(spark: SparkSession, counties: DataFrame, grid: GridSpec,
          domain: CellDomain, res: Int,
          specs: Seq[SrgSpec],
          merges: Seq[MergeSpec] = Nil,
          gapfills: Seq[GapfillSpec] = Nil,
          normalizeTol: Double = 1e-6,
          outDir: Option[String] = None,
          concats: Seq[ConcatSpec] = Nil,
          denomThreshold: Double = 1e-5,
          proj: Smoke.ProjInfo = Smoke.ProjInfo()): Result = {

    // a repeated output code would silently keep only the last table;
    // a gapfill may reuse a spec's, merge's or concat's code (a gapfill over
    // its own merge or spec), but not another gapfill's
    val outCodes = specs.map(_.code) ++ merges.map(_.outCode) ++
      concats.map(_.outCode)
    val fillCodes = gapfills.map(_.outCode)
    val dups = (outCodes.diff(outCodes.distinct) ++
      fillCodes.diff(fillCodes.distinct)).distinct.sorted
    require(dups.isEmpty, s"surrogate code(s) ${dups.mkString(", ")} " +
      "defined more than once across specs, merges and concats, or by two gapfills")
    // merges, concats and gapfills only combine generated tables
    require(specs.nonEmpty, "empty catalog: no surrogate spec to generate")

    // generation, materialized once per spec. keepSkipped: below-threshold
    // counties ride along so the SMOKE sink can render their #SKIPPED rows
    // (surrogate.c:434-452); post-passes and Result.srg see only live
    // counties (the reference's downstream tools parse the text files and
    // skip '#' comment lines). No table is sorted: Smoke.write sorts the
    // lines it writes.
    val generatedFull: Map[Int, DataFrame] = specs.map { s =>
      val df = Surrogate.create(s.kind, s.weights, counties,
        Surrogate.Grid(grid), domain, res, s.code, s.weightAttr,
        denomThreshold, keepSkipped = true)
      s.code -> df.localCheckpoint()
    }.toMap
    val generated: Map[Int, DataFrame] = generatedFull.map { case (c, df) =>
      c -> df.where(col("denom") >= denomThreshold)
    }
    val skippedRows: Map[Int, DataFrame] = generatedFull.map { case (c, df) =>
      c -> df.where(col("denom") < denomThreshold)
    }

    // a post-pass referencing a surrogate that wasn't generated (e.g. its
    // generation row says GENERATE=NO) must fail naming the spec, not as a
    // bare 'key not found: <code>'
    def resolve(pool: Map[Int, DataFrame], code: Int, kind: String,
                spec: String): DataFrame =
      pool.getOrElse(code, throw new IllegalArgumentException(
        s"$kind '$spec' references surrogate code $code, which was not " +
          s"generated (available: ${pool.keys.toSeq.sorted.mkString(", ")})"))

    // post-passes over generated tables
    val merged = merges.map { m =>
      m.outCode -> PostOps.merge(
        resolve(generated, m.a, "merge", m.name),
        resolve(generated, m.b, "merge", m.name), m.fa, m.fb, m.outCode)
    }.toMap
    val concatenated = concats.map { c =>
      c.outCode -> c.parts.map(resolve(generated, _, "concat", c.name))
        .reduce(_ unionByName _)
        .withColumn("srg_code", lit(c.outCode))
    }.toMap
    val all0 = generated ++ merged ++ concatenated
    val filled = gapfills.map { g =>
      g.outCode -> PostOps.gapfill(
        g.cascade.map(resolve(all0, _, "gapfill", g.name)), g.outCode)
    }.toMap
    val all = all0 ++ filled

    val normalized = all.map { case (code, df) =>
      code -> PostOps.normalize(df, normalizeTol).localCheckpoint()
    }

    // QA over every table that has frac
    val union = normalized.values
      .map(_.select("srg_code", "fips", "col", "row", "frac"))
      .reduce(_ unionByName _)
    val qaSum = PostOps.qaSummary(union, all.keys.toSeq.sorted)
    val qaNot1 = PostOps.qaNot1(union)

    // SRGDESC names; a gapfill that reuses a code keeps that code's name
    val names: Map[Int, String] = (gapfills.map(g => g.outCode -> g.name) ++
      concats.map(c => c.outCode -> c.name) ++
      merges.map(m => m.outCode -> m.name) ++
      specs.map(s => s.code -> s.name)).toMap

    // sinks: SMOKE per code + SRGDESC index (SA_ch05_surrogate.md:688)
    val descRows = outDir.map { dir =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      normalized.toSeq.sortBy(_._1).map { case (code, df) =>
        val path = s"$dir/srg_$code.txt"
        // gapfilled/merged tables may lack QA fields — write plain rows then
        // (the reference's no-QA output mode, surrogate.c:476-519)
        val hasQa = Seq("numer", "denom", "qasum").forall(df.columns.contains)
        val full = if (hasQa) df else df
          .withColumn("numer", lit(0.0)).withColumn("denom", lit(1.0))
          .withColumn("qasum", lit(0.0))
        // generated codes append their below-threshold counties so the
        // file carries the reference's #SKIPPED rows (un-normalized: the
        // reference skips those counties before normalization too)
        val sinkDf = skippedRows.get(code)
          .map(sk => full.unionByName(sk)).getOrElse(full)
        Smoke.write(sinkDf, grid, proj, path, withQa = hasQa,
          denomThreshold = denomThreshold)
        (code, names(code), path)
      }
    }.getOrElse(normalized.keys.toSeq.sorted.map(c => (c, names(c), "")))

    outDir.foreach { dir =>
      val lines = "#SRGDESC" +: descRows.map { case (c, n, p) => s"$c,$n,$p" }
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/SRGDESC.txt"),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }

    Result(normalized, qaSum, qaNot1, descRows)
  }
}
