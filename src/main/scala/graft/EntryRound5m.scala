package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import graft.fixtures.TpchGeo
import graft.fixtures.TpchGeo.{grid, domain, zres}

/** Round-5 thirteenth batch: a partitioning-invariance certificate for
  * the point surrogate, exact integer second-moment accumulation over
  * quantized embeddings (the PCA/whitening prep pass), and a
  * tokenizer-coverage audit — each gated by a closed-form DuckDB oracle. */
object EntryRound5m {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // partitioning-invariance certificate: the SAME point surrogate over
    // the points hash-repartitioned 8 ways must be row-identical to the
    // surrogate over the points as read — the in-query require proves the
    // result does not depend on how the input is partitioned, the oracle
    // re-certifies the repartitioned output end to end
    "q187_salted_srg_parity" -> ((s, dir) => {
      import graft.operators.Surrogate
      // both parity sides persisted: each feeds two exceptAll branches
      // (and `shuffled` is also the output) — without this the two
      // surrogate pipelines execute ~5x per run
      val shuffled = Surrogate.pointSurrogate(
          TpchGeo.points(s, dir).repartition(8, xxhash64(col("x"), col("y"))),
          TpchGeo.counties(s), grid, domain, zres, srgCode = 100)
        .transform(graft.spark.PersistTracker.persist)
      val asRead = Surrogate.pointSurrogate(TpchGeo.points(s, dir),
          TpchGeo.counties(s), grid, domain, zres, srgCode = 100)
        .transform(graft.spark.PersistTracker.persist)
      require(shuffled.exceptAll(asRead).isEmpty &&
          asRead.exceptAll(shuffled).isEmpty,
        "repartitioning the points changed the surrogate output — the " +
          "surrogate must not depend on the input's partitioning")
      shuffled.orderBy("fips", "row", "col")
    }),

    // exact second-moment matrix over int8-quantized embeddings — the
    // distributed half of PCA/whitening/covariance estimation: one pass,
    // the d² cell blowup happens map-side and collapses to d(d+1)/2 rows
    // via partial aggregation (no self-join, no shuffle of vectors);
    // |q|≤127 keeps 10^12-row sums inside a long
    "q188_embed_moments" -> ((s, dir) => {
      import graft.ml.Quantize
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val q = Quantize.int8(e, "vec_id", "embedding")
      q.select(col("q8"), posexplode(col("q8")).as(Seq("i", "vi")))
        .select(col("i"), col("vi"),
          posexplode(col("q8")).as(Seq("j", "vj")))
        .where(col("j") >= col("i"))
        .groupBy("i", "j")
        .agg(sum(col("vi").cast("long") * col("vj")).as("sxx"),
          count(lit(1)).as("n"))
        .orderBy("i", "j")
    }),

    // tokenizer-coverage audit: vocabulary from the even half of the
    // corpus, OOV rate of the FULL corpus per language — the held-out
    // fit check a data-mix change runs before committing a tokenizer
    "q189_vocab_coverage" -> ((s, dir) => {
      import graft.text.Bpe
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val vocab = Bpe.wordDict(docs.where(col("doc_id") % 2 === 0), "text")
        .select(col("w"), lit(1).as("hit"))
      docs.select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .join(broadcast(vocab), Seq("w"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_words"),
          sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_permille", expr("n_oov * 1000 div n_words"))
        .orderBy("lang")
    })
  )

  def oracles: Map[String, String] = Map(

    // identical math to the q03 oracle — the salted plan must land on
    // the same rows
    "q187_salted_srg_parity" -> SparkEntry.srgPointStmt,

    "q188_embed_moments" ->
      """WITH q AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(
        |      CAST(x AS DOUBLE) * 127 / greatest(1e-30,
        |        list_max(list_transform(embedding,
        |          y -> abs(CAST(y AS DOUBLE))))) + 0.5) AS INT)) AS q8
        |  FROM embeddings),
        |a AS (SELECT vec_id, generate_subscripts(q8, 1) - 1 AS i,
        |        unnest(q8) AS vi FROM q),
        |b AS (SELECT vec_id, generate_subscripts(q8, 1) - 1 AS j,
        |        unnest(q8) AS vj FROM q)
        |SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
        |  CAST(sum(CAST(vi AS BIGINT) * vj) AS BIGINT) AS sxx,
        |  count(*) AS n
        |FROM a JOIN b USING (vec_id) WHERE j >= i
        |GROUP BY 1, 2 ORDER BY i, j""".stripMargin,

    "q189_vocab_coverage" ->
      """WITH vocab AS (SELECT DISTINCT w FROM
        |  (SELECT unnest(string_split(text, ' ')) AS w FROM documents
        |   WHERE doc_id % 2 = 0)
        |  WHERE regexp_matches(w, '^[a-z]{2,20}$')),
        |tok AS (SELECT lang, unnest(string_split(text, ' ')) AS w
        |        FROM documents),
        |agg AS (SELECT lang, count(*) AS n_words,
        |          CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_oov
        |        FROM tok t LEFT JOIN vocab v ON t.w = v.w
        |        GROUP BY lang)
        |SELECT lang, n_words, n_oov,
        |  n_oov * 1000 // n_words AS oov_permille
        |FROM agg ORDER BY lang""".stripMargin
  )
}
