package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import java.util.concurrent.atomic.AtomicLong
import graft.fixtures.{TpchGeo, Pages}
import graft.fixtures.TpchGeo.{domain, zres}

/** Round-5 seventeenth batch: the CDF replay identity (v1 ⊖ deletes ⊕
  * inserts ≡ v2 — the materialized-view-maintenance contract of the
  * change feed) and an end-to-end content pipeline (html bytes → text
  * extraction → gazetteer geotag → REAL spatial join → county rollup) —
  * each gated by a closed-form DuckDB oracle. */
object EntryRound5q {

  private[graft] val snapSeq = new AtomicLong(0)

  private def hv(e: String) = graft.text.WeightedSample.hexValSql(e)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // CDF replay identity: applying the change feed to the OLD version
    // must reproduce the NEW version exactly — the contract that lets a
    // downstream materialized view maintain itself from deltas instead
    // of re-reading the table. The require is the identity; the oracle
    // re-predicts the post-merge aggregate from the source table alone.
    "q198_cdf_replay" -> ((s, dir) => {
      import graft.table.SnapshotTable
      val root = SparkEntry.scratch(s, s"q198_${snapSeq.incrementAndGet()}", dir)
      val t = new SnapshotTable(root)
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "lang", "n_chars")
      val v1 = t.append(docs, "base").version
      val upd = docs.where(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") + 100000L).as("n_chars"))
        .unionByName(docs.where(col("doc_id") % 41 === 0)
          .select((col("doc_id") + 500000L).as("doc_id"), col("lang"),
            col("n_chars")))
      val v2 = t.merge(s, upd, "doc_id").version
      val cdf = t.changes(s, v1, v2)
        .transform(graft.spark.PersistTracker.persist)
      val cols = Seq("doc_id", "lang", "n_chars").map(col)
      // both replay sides persisted: each feeds two exceptAll branches
      // (and v2df the output aggregate)
      val replayed = t.readAt(s, v1).select(cols: _*)
        .exceptAll(cdf.where(col("_op") === "delete").select(cols: _*))
        .unionByName(cdf.where(col("_op") === "insert").select(cols: _*))
        .transform(graft.spark.PersistTracker.persist)
      val v2df = t.readAt(s, v2).select(cols: _*)
        .transform(graft.spark.PersistTracker.persist)
      require(replayed.exceptAll(v2df).isEmpty &&
          v2df.exceptAll(replayed).isEmpty,
        "CDF replay over v1 failed to reproduce v2 — the change feed is " +
          "not a complete delta")
      v2df.groupBy("lang")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"))
        .orderBy("lang")
    }),

    // end-to-end content pipeline: REAL html bytes → codegen text
    // extraction → gazetteer majority-vote geotag on the EXTRACTED text
    // → cell centers through the real point-in-polygon join → per-county
    // doc count + language spread. The oracle starts from the raw text
    // column — the byte-identity of extraction (q77's invariant) is what
    // lets the two paths agree.
    "q199_geotag_pipeline" -> ((s, dir) => {
      import graft.text.{Html, Bpe}
      import graft.operators.SpatialJoin
      val pages = Pages.pages(s, dir)
      // persisted: the gazetteer build (wordDict) and the token explode
      // both consume the html-extraction output — without this the
      // extraction expressions run twice over every page
      val extracted = pages.select(
          Pages.urlId(col("url")).as("doc_id"),
          col("lang"), Html.extractText(col("html")).as("text"))
        .transform(graft.spark.PersistTracker.persist)
      val gaz = Bpe.wordDict(extracted, "text")
        .where(col("freq") >= 20)
        .select(col("w"),
          expr(s"CAST(${hv("w")} % 8 + 1 AS INT)").as("gcol"),
          expr(s"CAST((${hv("w")} div 8) % 8 + 1 AS INT)").as("grow"))
      val tagged = extracted
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("w"))
        .join(broadcast(gaz), "w")
        .groupBy("doc_id", "lang", "gcol", "grow").agg(count(lit(1)).as("c"))
        .groupBy("doc_id", "lang")
        .agg(min(struct((-col("c")).as("nc"), col("gcol"), col("grow")))
          .as("m"))
        .select(col("doc_id"), col("lang"),
          ((col("m.gcol") - 0.5) * 1000.0).as("x"),
          ((col("m.grow") - 0.5) * 1000.0).as("y"))
      SpatialJoin.pointInPoly(tagged, TpchGeo.counties(s), domain, zres)
        .groupBy("fips")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("lang").as("n_langs"))
        .orderBy("fips")
    })
  )

  def oracles: Map[String, String] = Map(

    "q198_cdf_replay" ->
      """WITH v2 AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 7 = 0 THEN n_chars + 100000
        |         ELSE n_chars END AS n_chars
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 500000, lang, n_chars FROM documents
        |  WHERE doc_id % 41 = 0)
        |SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM v2 GROUP BY 1 ORDER BY lang""".stripMargin,

    "q199_geotag_pipeline" ->
      s"""WITH wd AS (SELECT w, count(*) AS freq FROM
         |  (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE regexp_matches(w, '^[a-z]{2,20}$$') GROUP BY 1),
         |gaz AS (SELECT w, CAST(${hv("w")} % 8 + 1 AS INT) AS gcol,
         |          CAST((${hv("w")} // 8) % 8 + 1 AS INT) AS grow
         |        FROM wd WHERE freq >= 20),
         |tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
         |        FROM documents),
         |h AS (SELECT doc_id, lang, gcol, grow, count(*) AS c
         |      FROM tok JOIN gaz USING (w) GROUP BY 1, 2, 3, 4),
         |r AS (SELECT doc_id, lang, gcol, grow,
         |        row_number() OVER (PARTITION BY doc_id
         |          ORDER BY c DESC, gcol, grow) AS rn FROM h),
         |pt AS (SELECT doc_id, lang, (gcol - 0.5) * 1000.0 AS x,
         |         (grow - 0.5) * 1000.0 AS y FROM r WHERE rn = 1)
         |SELECT ${TpchGeo.fipsOfSql("x", "y")} AS fips,
         |  count(*) AS n_docs, count(DISTINCT lang) AS n_langs
         |FROM pt GROUP BY 1 ORDER BY fips""".stripMargin
  )
}
