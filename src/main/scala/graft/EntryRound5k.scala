package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import java.util.concurrent.atomic.AtomicLong
import graft.fixtures.TpchGeo
import graft.fixtures.TpchGeo.{grid, domain, zres}

/** Round-5 eleventh batch: BPE tokenizer training, Hilbert-curve
  * clustering, CDF-driven incremental surrogate maintenance, and
  * hard-negative mining — each gated by a closed-form DuckDB oracle over
  * the same parquet inputs. */
object EntryRound5k {

  private[graft] val snapSeq = new AtomicLong(0)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // BPE tokenizer training: one corpus pass builds the word dict, then
    // three merge rounds that touch only the dict — weighted pair counts,
    // a 1-row winning-pair collect, a codegen'd greedy merge fold. The
    // oracle replays all three rounds (pair counting, (count DESC, pair
    // ASC) argmax, greedy application via run-offset parity) in SQL.
    "q180_bpe_train" -> ((s, dir) => {
      import graft.text.Bpe
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val (_, merges) = Bpe.train(Bpe.wordDict(docs, "text"), rounds = 3)
      import s.implicits._
      merges.toDF()
        .select(col("round"), col("lsym"), col("rsym"),
          col("pairCount").as("pair_count"),
          col("tokensAfter").as("tokens_after"))
        .orderBy("round")
    }),

    // Hilbert-curve clustering: pages → lattice cells → Hilbert distance
    // (order 8, pure codegen), then per contiguous 256-position curve
    // block the 2-D envelope — the per-file min/max a Hilbert-sorted
    // write would hand to the manifest pruner (q108's z-order path with
    // strictly tighter envelopes). The oracle replays the full 8-level
    // quadrant/rotate recurrence in SQL.
    "q181_hilbert_blocks" -> ((s, dir) => {
      import graft.cells.Hilbert
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(((col("doc_id") * 37) % 256).as("ix"),
          ((col("doc_id") * 91 + 13) % 256).as("iy"))
      Hilbert.attach(d, "ix", "iy", 8, "h")
        .withColumn("block", expr("h div 256"))
        .groupBy("block")
        .agg(count(lit(1)).as("n"),
          min("ix").as("min_ix"), max("ix").as("max_ix"),
          min("iy").as("min_iy"), max("iy").as("max_iy"))
        .orderBy("block")
    }),

    // Incremental surrogate maintenance: weights live in the snapshot
    // table; a MERGE moves every 13th point +4000 in x; the CDF between
    // the two versions yields exactly the moved rows, whose old+new
    // positions (point-in-polygon on the CHANGE SET only) name the
    // affected counties; the surrogate is recomputed for those counties
    // alone — the county is the surrogate's natural invalidation unit
    // (each fips row depends only on its own points). The in-query
    // `require` certifies delta-recompute == full-recompute restricted
    // to the affected counties (the full pass is the certificate, not
    // the scale path — at 100 TB only the delta side runs).
    "q182_incremental_srg" -> ((s, dir) => {
      import graft.table.SnapshotTable
      import graft.operators.{Surrogate, SpatialJoin}
      val root = SparkEntry.scratch(s, s"q182_${snapSeq.incrementAndGet()}", dir)
      val t = new SnapshotTable(root)
      val base = TpchGeo.points(s, dir)
      val v1 = t.append(base, "weights_v1").version
      val upd = base.where(col("o_orderkey") % 13 === 0)
        .select(col("o_orderkey"),
          ((col("x").cast("long") + 4000) % 8000).cast("double").as("x"),
          col("y"))
      val v2 = t.merge(s, upd, "o_orderkey").version
      val cdf = t.changes(s, v1, v2) // moved rows only: delete=old, insert=new
      val aff = SpatialJoin.pointInPoly(
          cdf.select("o_orderkey", "x", "y"), TpchGeo.counties(s),
          domain, zres)
        .select("fips").distinct()
      val affCounties = TpchGeo.counties(s).join(broadcast(aff), "fips")
      val w2 = t.read(s)
      // both certification sides persisted: each feeds two exceptAll
      // branches (and delta the output) — without the persists the two
      // surrogate pipelines execute ~5x per run
      val delta = Surrogate.pointSurrogate(w2, affCounties,
          grid, domain, zres, srgCode = 100)
        .transform(graft.spark.PersistTracker.persist)
      val full = Surrogate.pointSurrogate(w2, TpchGeo.counties(s),
          grid, domain, zres, srgCode = 100)
        .join(broadcast(aff), "fips")
        .select(delta.columns.map(col): _*)
        .transform(graft.spark.PersistTracker.persist)
      require(delta.exceptAll(full).isEmpty && full.exceptAll(delta).isEmpty,
        "incremental surrogate recompute diverged from the full recompute " +
          "restricted to the affected counties")
      delta.orderBy("fips", "row", "col")
    }),

    // Hard-negative mining for contrastive training: per anchor
    // embedding, the 3 most-similar vectors with a DIFFERENT label —
    // one bounded-heap corpus pass (the q17 discipline with the
    // exclusion moved to the label). The oracle is the brute-force
    // labeled cross join.
    "q183_hard_negatives" -> ((s, dir) => {
      import graft.ml.Similarity
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val anchors = e.where(col("vec_id") % 37 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          col("label").as("qlab"))
      val corpus = e.select(col("vec_id").as("cid"),
        col("embedding").as("cvec"), col("label").as("clab"))
      Similarity.hardNegativeTopK(anchors, corpus, k = 3)
        .orderBy("qid", "rank")
    })
  )

  // ------------------------------------------------------------- oracles

  /** One BPE merge round in DuckDB: pair counts → (count DESC, pair ASC)
    * argmax → greedy application. Greedy-scan equivalence: for l ≠ r
    * matches can never overlap (sym=l and sym=r at once is impossible),
    * so every match merges; for l = r a maximal run merges at even run
    * offsets only — `runoff % 2 = 0` — which is exactly the left-to-right
    * non-overlapping scan. */
  private[graft] def bpeRoundSql(r: Int): String = {
    val p = s"s${r - 1}"
    s"""t$r AS (SELECT w, freq, generate_subscripts(l,1) AS pos, unnest(l) AS sym
       |        FROM (SELECT w, freq, string_split(syms,' ') AS l FROM $p)),
       |b$r AS (SELECT w, freq, pos, sym,
       |          lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt FROM t$r),
       |p$r AS (SELECT sym AS ls, nxt AS rs, sum(freq) AS cnt FROM b$r
       |        WHERE nxt IS NOT NULL GROUP BY 1,2),
       |m$r AS (SELECT ls, rs, cnt FROM p$r ORDER BY cnt DESC, ls ASC, rs ASC LIMIT 1),
       |g$r AS (SELECT w, freq, pos, sym, nxt, m.ls, m.rs,
       |          pos - coalesce(max(CASE WHEN sym <> m.ls THEN pos END)
       |            OVER (PARTITION BY w ORDER BY pos), 0) - 1 AS runoff
       |        FROM b$r CROSS JOIN m$r m),
       |f$r AS (SELECT w, freq, pos,
       |          (sym = ls AND nxt IS NOT NULL AND nxt = rs
       |            AND (ls <> rs OR runoff % 2 = 0)) AS mst, sym, ls, rs
       |        FROM g$r),
       |h$r AS (SELECT w, freq, pos, mst, sym, ls, rs,
       |          coalesce(lag(mst) OVER (PARTITION BY w ORDER BY pos), FALSE)
       |            AS consumed
       |        FROM f$r),
       |s$r AS (SELECT w, any_value(freq) AS freq,
       |          string_agg(CASE WHEN mst THEN ls || rs
       |                          WHEN NOT consumed THEN sym END,
       |                     ' ' ORDER BY pos) AS syms
       |        FROM h$r GROUP BY w)""".stripMargin
  }

  /** Shared head of the BPE oracles: corpus → word dict → initial
    * symbols (reused by the q186 encode oracle). */
  private[graft] val bpeDictCtes: String =
    """WITH w0 AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |wd AS (SELECT w, count(*) AS freq FROM w0
      |       WHERE regexp_matches(w, '^[a-z]{2,20}$') GROUP BY 1),
      |s0 AS (SELECT w, freq, trim(regexp_replace(w, '(.)', '\1 ', 'g')) AS syms
      |       FROM wd)""".stripMargin

  private lazy val bpeSql: String = {
    val rounds = (1 to 3).map(bpeRoundSql).mkString(",\n")
    val tails = (1 to 3).map { r =>
      val head = if (r == 1) "SELECT 1 AS r, ls, rs, cnt," else s"SELECT $r, ls, rs, cnt,"
      s"""$head
         |    (SELECT sum(freq * len(string_split(syms,' '))) FROM s$r) FROM m$r"""
        .stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""$bpeDictCtes,
       |$rounds
       |SELECT r AS round, ls AS lsym, rs AS rsym, CAST(cnt AS BIGINT) AS pair_count,
       |  CAST(toks AS BIGINT) AS tokens_after FROM (
       |  ${tails.linesIterator.mkString("\n  ")})
       |  t(r, ls, rs, cnt, toks)
       |ORDER BY round""".stripMargin
  }

  /** The 8-level xy2d quadrant/rotate recurrence, unrolled as chained
    * CTEs (one per bit level, mirroring `Hilbert.hvalue`'s loop). */
  private def hilbertLevelsSql(order: Int): String = {
    val n = 1L << order
    (1 to order).map { i =>
      val s = n >> i
      s"""h$i AS (SELECT ix, iy, d + ${s * s} * xor(3*rx, ry) AS d,
         |  CASE WHEN ry=0 THEN (CASE WHEN rx=1 THEN ${n - 1} - y ELSE y END)
         |       ELSE x END AS x,
         |  CASE WHEN ry=0 THEN (CASE WHEN rx=1 THEN ${n - 1} - x ELSE x END)
         |       ELSE y END AS y
         |FROM (SELECT ix, iy, d, x, y,
         |  CASE WHEN x & $s > 0 THEN 1 ELSE 0 END AS rx,
         |  CASE WHEN y & $s > 0 THEN 1 ELSE 0 END AS ry FROM h${i - 1}))"""
        .stripMargin
    }.mkString(",\n")
  }

  def oracles: Map[String, String] = Map(

    "q180_bpe_train" -> bpeSql,

    "q181_hilbert_blocks" ->
      s"""WITH pts AS (SELECT (doc_id * 37) % 256 AS ix,
         |              (doc_id * 91 + 13) % 256 AS iy FROM documents),
         |h0 AS (SELECT ix, iy, CAST(0 AS BIGINT) AS d, ix AS x, iy AS y
         |       FROM pts),
         |${hilbertLevelsSql(8)}
         |SELECT d // 256 AS block, count(*) AS n,
         |  min(ix) AS min_ix, max(ix) AS max_ix,
         |  min(iy) AS min_iy, max(iy) AS max_iy
         |FROM h8 GROUP BY 1 ORDER BY block""".stripMargin,

    "q182_incremental_srg" ->
      s"""WITH base AS (SELECT o_orderkey, (o_orderkey * 48271) % 8000 AS xi,
         |               (o_orderkey * 16807) % 8000 AS yi FROM orders),
         |pts0 AS (SELECT * FROM base WHERE xi % 500 <> 0 AND yi % 500 <> 0),
         |pts AS (SELECT o_orderkey,
         |  CAST(CASE WHEN o_orderkey % 13 = 0 THEN (xi + 4000) % 8000
         |       ELSE xi END AS DOUBLE) AS x,
         |  CAST(yi AS DOUBLE) AS y FROM pts0),
         |aff AS (SELECT DISTINCT fips FROM (
         |  SELECT ${TpchGeo.fipsOfSql("xi", "yi")} AS fips FROM pts0
         |  WHERE o_orderkey % 13 = 0
         |  UNION
         |  SELECT ${TpchGeo.fipsOfSql("((xi + 4000) % 8000)", "yi")} FROM pts0
         |  WHERE o_orderkey % 13 = 0)),
         |tagged AS (SELECT ${TpchGeo.fipsOfSql("x", "y")} AS fips,
         |  CAST(floor(x/1000.0) AS INT)+1 AS col,
         |  CAST(floor(y/1000.0) AS INT)+1 AS "row" FROM pts),
         |num AS (SELECT fips, col, "row", CAST(count(*) AS DOUBLE) AS numer
         |        FROM tagged GROUP BY 1, 2, 3),
         |den AS (SELECT fips, CAST(count(*) AS DOUBLE) AS denom
         |        FROM tagged GROUP BY 1)
         |SELECT CAST(100 AS INT) AS srg_code, fips, col, "row",
         |  numer/denom AS frac, numer, denom,
         |  sum(numer/denom) OVER (PARTITION BY fips ORDER BY "row", col) AS qasum
         |FROM num JOIN den USING (fips)
         |WHERE denom >= 0.00001 AND numer <> 0
         |  AND fips IN (SELECT fips FROM aff)
         |ORDER BY fips, "row", col""".stripMargin,

    "q183_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv,
        |             label AS qlab
        |           FROM embeddings WHERE vec_id % 37 = 0),
        |c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv,
        |        label AS clab FROM embeddings),
        |d AS (SELECT qid, cid, list_cosine_similarity(qv, cv) AS cos
        |      FROM q CROSS JOIN c WHERE clab <> qlab),
        |r AS (SELECT qid, cid, cos,
        |        CAST(row_number() OVER (PARTITION BY qid
        |          ORDER BY cos DESC, cid) AS INT) AS "rank"
        |      FROM d)
        |SELECT qid, cid, cos, "rank" FROM r WHERE "rank" <= 3
        |ORDER BY qid, "rank"""".stripMargin
  )
}
