package graft
package registry

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ExprBridge
import graft.fixtures.{Pages, TextFixtures}
import graft.spark.expressions.{LuhnValid, MultiPatternCounts, NfcNormalize}
import graft.text.{CrawlOps, PipelineOps, TextOps}

/** The text pipeline: dedup, tokenization, language id, quality and
  * perplexity filters, decontamination, retrieval and training-data prep. */
object TextQueries {

  private val decontaminateSql: String =
      s"""WITH b AS (SELECT DISTINCT ngram AS g FROM (${TextFixtures.benchmarkNgramsSql}) bb),
         |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |sh AS (SELECT DISTINCT doc_id,
         |         unnest([array_to_string(ws[i:i+7], ' ') FOR i IN range(1, len(ws) - 6)]) AS g
         |       FROM w),
         |h AS (SELECT doc_id, count(*) AS c FROM sh JOIN b USING (g) GROUP BY 1)
         |SELECT doc_id, CAST(coalesce(h.c, 0) AS BIGINT) AS n_hits,
         |  CAST(CASE WHEN coalesce(h.c, 0) > 0 THEN 1 ELSE 0 END AS INT) AS contaminated
         |FROM documents d LEFT JOIN h USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Benford expected log10(1+1/d) in 1e9 units — fixed shared constants. */
  private val benfordE9 = Seq(
    1 -> 301029996L, 2 -> 176091259L, 3 -> 124938737L, 4 -> 96910013L,
    5 -> 79181246L, 6 -> 66946790L, 7 -> 57991947L, 8 -> 51152522L,
    9 -> 45757491L)

  /** Border-free patterns (no proper prefix = suffix), so the overlap-
    * inclusive AC counts equal DuckDB's non-overlapping replace() counts;
    * "par" is a strict substring of corpus words (part, spark) to prove
    * substring—not token—matching. */
  private val patterns = Seq("data", "spark", "par", "row", "scan")

  private[registry] val bmQueries = Seq(
    0 -> Seq("table", "scan", "join"),
    1 -> Seq("window", "data"),
    2 -> Seq("customer", "value", "fast", "slow"))

  /** The q151 BM25 oracle chain (same queries), reused by q162/q164:
    * cleared-fraction integer scoring, full ranking in CTE `r`. */
  private[registry] val bm25Ctes: String =
    """t AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS w
      |           FROM documents),
      |p AS (SELECT id, w, count(*) AS tf FROM t WHERE w <> ''
      |      GROUP BY 1, 2),
      |l AS (SELECT id, sum(tf) AS dl FROM p GROUP BY 1),
      |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(dl) AS BIGINT) AS a FROM l),
      |q(qid, w) AS (VALUES (0, 'table'), (0, 'scan'), (0, 'join'),
      |  (1, 'window'), (1, 'data'),
      |  (2, 'customer'), (2, 'value'), (2, 'fast'), (2, 'slow')),
      |dfq AS (SELECT w, count(*) AS df FROM p
      |        WHERE w IN (SELECT w FROM q) GROUP BY w),
      |idf AS (SELECT w, CAST(round(
      |    ln(1 + (g.n - df + 0.5) / (df + 0.5)) * 1e6) AS BIGINT)
      |    AS idf_micro
      |  FROM dfq, g),
      |sc AS (SELECT q.qid, p.id,
      |    CAST(sum((idf_micro * 22 * g.a * p.tf) //
      |             (10 * g.a * p.tf + 3 * g.a + 9 * l.dl * g.n))
      |      AS BIGINT) AS score
      |  FROM p JOIN q USING (w) JOIN idf USING (w) JOIN l USING (id), g
      |  GROUP BY 1, 2),
      |r AS (SELECT qid, id, score, row_number() OVER
      |        (PARTITION BY qid ORDER BY score DESC, id) AS rank
      |      FROM sc)""".stripMargin

  /** One BPE merge round in DuckDB: pair counts → (count DESC, pair ASC)
    * argmax → greedy application. Greedy-scan equivalence: for l ≠ r
    * matches can never overlap (sym=l and sym=r at once is impossible),
    * so every match merges; for l = r a maximal run merges at even run
    * offsets only — `runoff % 2 = 0` — which is exactly the left-to-right
    * non-overlapping scan. */
  private def bpeRoundSql(r: Int): String = {
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
  private val bpeDictCtes: String =
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

  private[registry] def hv(e: String) = graft.text.WeightedSample.hexValSql(e)

  /** DuckDB stopword count (the q13 oracle's kernel). */
  private def stopCntSql(words: Seq[String]): String =
    s"len(list_filter(string_split(text, ' '), x -> x IN (${
      words.map(w => s"'$w'").mkString(", ")})))"

  private[registry] def jaccardPairsSql(corpusSql: String, tau: Double): String =
    s"""WITH corpus AS ($corpusSql),
       |w AS (SELECT doc_id AS id, string_split(text, ' ') AS ws FROM corpus),
       |shl AS (SELECT id, [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
       |                    FOR i IN range(1, len(ws) - 1)] AS l FROM w),
       |sh AS (SELECT DISTINCT id, unnest(l) AS sh FROM shl),
       |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY 1),
       |pairs AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
       |          FROM sh a JOIN sh b USING (sh) WHERE a.id < b.id GROUP BY 1, 2),
       |j AS (SELECT id_a, id_b,
       |        CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jac
       |      FROM pairs
       |      JOIN sizes sa ON sa.id = pairs.id_a
       |      JOIN sizes sb ON sb.id = pairs.id_b)
       |SELECT id_a, id_b, jac FROM j WHERE jac >= $tau ORDER BY id_a, id_b""".stripMargin

  def all: Seq[Q] = Seq(
    // exact dedup groups over a corpus with engineered duplicates
    Q("q11_dedup_exact", (s, dir) =>
      TextOps.exactDedupGroups(TextFixtures.dupCorpus(s, dir), "doc_id", "text")
        .orderBy("rep_id"),
      s"""WITH corpus AS (${TextFixtures.dupCorpusSql})
         |SELECT md5(text) AS text_hash, min(doc_id) AS rep_id, count(*) AS dup_count
         |FROM corpus GROUP BY 1 ORDER BY rep_id""".stripMargin),

    // token counting + quality scoring (integer counts → exact ratios)
    Q("q12_token_quality", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.select(col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_tokens"),
          TextOps.stopwordCount(col("text"), TextFixtures.qualityStopwords).as("stop_cnt"),
          TextOps.qualityScore(col("text"), length(col("text")),
            TextFixtures.qualityStopwords).as("quality"))
        .orderBy("doc_id")
    },
      {
      val sw = stopCntSql(TextFixtures.qualityStopwords)
      s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         |  CAST($sw AS INT) AS stop_cnt,
         |  0.5 * (CAST($sw AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE))
         |  + 0.5 * (1.0 - abs((CAST(length(text) AS DOUBLE)
         |      - (CAST(len(string_split(text, ' ')) AS DOUBLE) - 1))
         |      / CAST(len(string_split(text, ' ')) AS DOUBLE) - 5.0) / 10.0) AS quality
         |FROM documents ORDER BY doc_id""".stripMargin
    }),

    // stopword-profile language id (argmax, first-profile tie-break)
    Q("q13_lang_id", (s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          TextOps.langId(col("text"), TextFixtures.langProfiles).as("lang_pred"))
        .orderBy("doc_id"),
      {
      val scores = TextFixtures.langProfiles.zipWithIndex.map {
        case ((lang, words), pos) =>
          s"SELECT doc_id, '$lang' AS lang, $pos AS pos, ${stopCntSql(words)} AS score FROM documents"
      }.mkString("\nUNION ALL ")
      s"""WITH s AS ($scores),
         |r AS (SELECT doc_id, lang,
         |        row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, pos) AS rn
         |      FROM s)
         |SELECT doc_id, lang AS lang_pred FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin
    }),

    // exact n-gram Jaccard near-dup pairs (shingle self-join path)
    Q("q14_ngram_jaccard", (s, dir) =>
      TextOps.ngramJaccardPairs(
          TextFixtures.nearDupCorpus(s, dir, " graftmark near dup copy"),
          "doc_id", "text", n = 3, tau = 0.5)
        .orderBy("id_a", "id_b"),
      jaccardPairsSql(TextFixtures.nearDupCorpusSql(" graftmark near dup copy"), 0.5)),

    // MinHash+LSH near-dup pairs with exact verification (the scale path)
    Q("q15_minhash_dedup", (s, dir) =>
      TextOps.minHashLshPairs(
          TextFixtures.nearDupCorpus(s, dir, " graftmark"),
          // 32 bands × 2 rows: P(miss | jac ≥ 0.8) = (1-0.8²)³² ≈ 6e-15 —
          // the LSH output is indistinguishable from exact at this τ.
          // Assume = crawl-scale setting: collapse without the probe pass
          // (exact dups are certain in this fixture as at crawl scale)
          "doc_id", "text", n = 3, numHashes = 64, bands = 32, tau = 0.8,
          preDedupExact = graft.text.PreCollapse.Assume)
        .orderBy("id_a", "id_b"),
      jaccardPairsSql(TextFixtures.nearDupCorpusSql(" graftmark"), 0.8)),

    // SimHash near-dup pairs, emitted as their parity gate: the bit-vote
    // fingerprint is not DuckDB-expressible, so (q37/q38 discipline) the
    // query computes BOTH the LSH pair set and the brute-force all-pairs
    // hamming join (native bit_count(xor) over a broadcast nested loop —
    // exact ground truth) and certifies per doc that the two partner sets
    // are identical; the oracle pins the gate, which pigeonhole
    // (tables = maxHamming + 1) guarantees. SimhashParitySpec remains the
    // unit-level gate on the same property.
    Q("q16_simhash", (s, dir) => {
      val corpus = TextFixtures.nearDupCorpus(s, dir, " graftmark")
      // persisted: exceptAll consumes each side twice (and the brute
      // cross-join consumes `sh` on both sides) — without the persists
      // the simhash UDF subtree executes up to 6x per run
      val lsh = TextOps.simhashPairs(corpus, "doc_id", "text",
          n = 3, maxHamming = 8, tables = 9,
          preDedupExact = graft.text.PreCollapse.Assume)
        .select("id_a", "id_b", "hamming")
        .transform(graft.spark.PersistTracker.persist)
      val sh = corpus.select(col("doc_id").as("id"),
          TextOps.simhashUdf(3)(col("text")).as("sh"))
        .transform(graft.spark.PersistTracker.persist)
      val brute = sh.as("a").crossJoin(broadcast(sh.as("b")))
        .where(col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).cast("int").as("hamming"))
        .where(col("hamming") <= 8)
        .transform(graft.spark.PersistTracker.persist)
      val badIds = lsh.exceptAll(brute).union(brute.exceptAll(lsh))
        .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
        .distinct().withColumn("__bad", lit(1))
      corpus.select(col("doc_id")).join(badIds, Seq("doc_id"), "left")
        .select(col("doc_id"),
          col("__bad").isNull.cast("int").as("simhash_eq_brute"))
        .orderBy("doc_id")
    },
      // q16 pins the parity gate (the query computes LSH and brute-force
      // hamming partner sets in-engine; equality is guaranteed by pigeonhole)
      s"""SELECT doc_id, CAST(1 AS INT) AS simhash_eq_brute
         |FROM (${TextFixtures.nearDupCorpusSql(" graftmark")}) c
         |ORDER BY doc_id""".stripMargin),

    // document content fingerprint (64-bit md5 prefix — oracle-exact)
    Q("q39_fingerprint", (s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          TextOps.contentFingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      """SELECT doc_id, substr(md5(text), 1, 16) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin),

    // paragraph-level exact dedup: per-doc (total, globally-first) counts
    Q("q58_paragraph_dedup", (s, dir) =>
      PipelineOps.paragraphDedupStats(
          TextFixtures.paraCorpus(s, dir), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_paras"), col("n_kept"))
        .orderBy("doc_id"),
      s"""WITH corpus AS (${TextFixtures.paraCorpusSql}),
         |p AS (SELECT doc_id,
         |        unnest(string_split(text, chr(10)||chr(10))) AS para,
         |        unnest(range(len(string_split(text, chr(10)||chr(10))))) AS idx
         |      FROM corpus),
         |r AS (SELECT doc_id, idx,
         |        row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, idx) AS rn
         |      FROM p)
         |SELECT doc_id, count(*) AS n_paras,
         |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM r GROUP BY 1 ORDER BY doc_id""".stripMargin),

    // test-set leakage: 8-gram collision vs a broadcast benchmark set
    Q("q59_decontaminate", (s, dir) =>
      PipelineOps.decontaminate(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          TextFixtures.benchmarkNgrams(s, dir), n = 8)
        .select(col("id").as("doc_id"), col("n_hits"),
          col("contaminated").cast("int").as("contaminated"))
        .orderBy("doc_id"),
      decontaminateSql),

    // GPT-style concat-and-chop sequence packing (T = 256 tokens)
    Q("q60_seq_pack", (s, dir) =>
      PipelineOps.packSequences(
          s.read.parquet(s"$dir/documents.parquet")
            .select(col("doc_id"),
              TextOps.tokenCount(col("text")).cast("long").as("n_tokens")),
          "doc_id", "n_tokens", seqLen = 256)
        .select("doc_id", "n_tokens", "tok_start", "seq_first", "seq_last", "n_seqs")
        .orderBy("doc_id"),
      """WITH t AS (SELECT doc_id,
        |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |      FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |        CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
        |      FROM t)
        |SELECT doc_id, n_tokens, tok_start,
        |  tok_start // 256 AS seq_first,
        |  CASE WHEN n_tokens = 0 THEN tok_start // 256
        |       ELSE (tok_start + n_tokens - 1) // 256 END AS seq_last,
        |  CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT)
        |       ELSE (tok_start + n_tokens - 1) // 256 - tok_start // 256 + 1
        |       END AS n_seqs
        |FROM c ORDER BY doc_id""".stripMargin),

    // Gopher-style repetition signals over word bigrams (doc-local)
    Q("q62_repetition", (s, dir) =>
      PipelineOps.repetitionSignals(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_bigrams"),
          col("n_distinct_bigrams"), col("top_bigram_cnt"),
          col("dup_bigram_frac"), col("top_bigram_frac"))
        .orderBy("doc_id"),
      // LEFT JOIN from documents: a doc with < 2 tokens has no bigram rows in
      // the group chain but must still emit a (0,0,0,0.0,0.0) row (matching
      // repetitionSignals); fixture docs all have >= 10 tokens, the join is
      // for contract robustness
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |b AS (SELECT doc_id, [ws[i] || ' ' || ws[i+1] FOR i IN range(1, len(ws))] AS bl FROM w),
        |u AS (SELECT doc_id, unnest(bl) AS bg FROM b),
        |c AS (SELECT doc_id, bg, count(*) AS c FROM u GROUP BY 1, 2),
        |s AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |        CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
        |        CAST(max(c) AS BIGINT) AS top_bigram_cnt
        |      FROM c GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(n_bigrams, 0) AS n_bigrams,
        |  coalesce(n_distinct_bigrams, 0) AS n_distinct_bigrams,
        |  coalesce(top_bigram_cnt, 0) AS top_bigram_cnt,
        |  CASE WHEN coalesce(n_bigrams, 0) = 0 THEN 0.0
        |       ELSE CAST(n_bigrams - n_distinct_bigrams AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
        |  END AS dup_bigram_frac,
        |  CASE WHEN coalesce(n_bigrams, 0) = 0 THEN 0.0
        |       ELSE CAST(top_bigram_cnt AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
        |  END AS top_bigram_frac
        |FROM documents d LEFT JOIN s USING (doc_id) ORDER BY doc_id""".stripMargin),

    // composite C4-style cleaning with first-fail audit: lang → quality →
    // repetition → exact dedup (among survivors) → decontamination
    Q("q63_clean_corpus", (s, dir) =>
      PipelineOps.cleanCorpusAudit(
          TextFixtures.dupCorpus(s, dir), "doc_id", "text",
          TextFixtures.benchmarkNgrams(s, dir),
          TextFixtures.langProfiles, TextFixtures.qualityStopwords,
          keepLang = "en", minQuality = 0.48, maxDupFrac = 0.06, n = 8)
        .orderBy("stage"),
      {
      val langScores = TextFixtures.langProfiles.zipWithIndex.map {
        case ((lang, words), pos) =>
          s"SELECT doc_id, '$lang' AS lang, $pos AS pos, " +
            s"len(list_filter(string_split(text, ' '), x -> x IN (${
              words.map(w => s"'$w'").mkString(", ")}))) AS score FROM corpus"
      }.mkString("\nUNION ALL ")
      val sw = TextFixtures.qualityStopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH corpus AS (${TextFixtures.dupCorpusSql}),
         |ls AS ($langScores),
         |lr AS (SELECT doc_id, lang,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, pos) AS rn
         |       FROM ls),
         |lang AS (SELECT doc_id, lang AS lp FROM lr WHERE rn = 1),
         |qx AS (SELECT doc_id,
         |        CAST(len(list_filter(string_split(text, ' '), x -> x IN ($sw))) AS DOUBLE) AS swc,
         |        CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt,
         |        CAST(length(text) AS DOUBLE) AS nc
         |      FROM corpus),
         |q AS (SELECT doc_id,
         |        0.5 * (swc / nt) + 0.5 * (1.0 - abs((nc - (nt - 1)) / nt - 5.0) / 10.0) AS quality
         |      FROM qx),
         |bw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
         |bb AS (SELECT doc_id, [ws[i] || ' ' || ws[i+1] FOR i IN range(1, len(ws))] AS bl FROM bw),
         |rep AS (SELECT doc_id,
         |          CASE WHEN len(bl) = 0 THEN 0.0
         |               ELSE CAST(len(bl) - len(list_distinct(bl)) AS DOUBLE) / CAST(len(bl) AS DOUBLE)
         |          END AS df
         |        FROM bb),
         |f AS (SELECT c.doc_id, c.text,
         |        (lang.lp = 'en') AS lang_ok,
         |        (q.quality >= 0.48) AS q_ok,
         |        (rep.df <= 0.06) AS r_ok
         |      FROM corpus c
         |      JOIN lang USING (doc_id) JOIN q USING (doc_id) JOIN rep USING (doc_id)),
         |reps AS (SELECT md5(text) AS th, min(doc_id) AS rid FROM f
         |         WHERE lang_ok AND q_ok AND r_ok GROUP BY 1),
         |d AS (SELECT f.*, (f.doc_id = r.rid) AS dd_ok
         |      FROM f LEFT JOIN reps r ON md5(f.text) = r.th),
         |b8 AS (SELECT DISTINCT ngram AS g FROM (${TextFixtures.benchmarkNgramsSql}) bn),
         |sh8 AS (SELECT DISTINCT doc_id,
         |          unnest([array_to_string(ws[i:i+7], ' ') FOR i IN range(1, len(ws) - 6)]) AS g
         |        FROM bw),
         |h8 AS (SELECT doc_id, count(*) AS c FROM sh8 JOIN b8 USING (g) GROUP BY 1),
         |lab AS (SELECT d.doc_id,
         |          CASE WHEN NOT lang_ok THEN '1_lang'
         |               WHEN NOT q_ok THEN '2_quality'
         |               WHEN NOT r_ok THEN '3_repetition'
         |               WHEN NOT dd_ok THEN '4_exact_dup'
         |               WHEN coalesce(h8.c, 0) > 0 THEN '5_contaminated'
         |               ELSE '6_kept' END AS stage
         |        FROM d LEFT JOIN h8 USING (doc_id))
         |SELECT stage, count(*) AS n_docs FROM lab GROUP BY 1 ORDER BY stage""".stripMargin
    }),

    // PII scrub: count + redact emails/phones/IPv4s (narrow codegen map)
    Q("q64_pii_redact", (s, dir) =>
      PipelineOps.redactPii(TextFixtures.piiCorpus(s, dir), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_emails"), col("n_phones"),
          col("n_ips"), substring(md5(col("redacted")), 1, 16).as("red_fp"))
        .orderBy("doc_id"),
      s"""WITH corpus AS (${TextFixtures.piiCorpusSql})
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text,
         |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(text, '([0-9]{1,3}\\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ips,
         |  substr(md5(
         |    regexp_replace(
         |      regexp_replace(
         |        regexp_replace(text,
         |          '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
         |        '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
         |      '([0-9]{1,3}\\.){3}[0-9]{1,3}', '<IP>', 'g')), 1, 16) AS red_fp
         |FROM corpus ORDER BY doc_id""".stripMargin),

    // deterministic stratified sampling: per-source mixture rates
    Q("q65_data_mix", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val rate = (substring(col("source"), 4, 10).cast("long") % 3 + 1) * 10
      PipelineOps.deterministicSample(d, "doc_id", rate)
        .groupBy("source")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"))
        .orderBy("source")
    },
      """WITH r AS (SELECT doc_id, source,
        |        (CAST(substr(source, 4) AS BIGINT) % 3 + 1) * 10 AS rate
        |      FROM documents)
        |SELECT source, count(*) AS n_total,
        |  CAST(sum(CASE WHEN (doc_id * 131 + 7) % 100 < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
        |FROM r GROUP BY 1 ORDER BY source""".stripMargin),

    // corpus report card: per-language token/char/doc totals (the summary
    // table every dataset builder publishes) — integer sums only
    Q("q67_corpus_report", (s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(TextOps.tokenCount(col("text")).cast("long")).as("sum_tokens"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy("lang"),
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin),

    // span-level exact substring dedup (Lee et al. 2022): duplicated
    // 7-token windows cut from every occurrence but the globally-first
    Q("q69_span_dedup", (s, dir) =>
      PipelineOps.spanDedup(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", k = 7)
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_removed"),
          col("text_clean"))
        .orderBy("doc_id"),
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |t AS (SELECT doc_id, ws, unnest(range(1, len(ws) - 5)) AS i FROM w),
        |occ AS (SELECT doc_id, i - 1 AS pos,
        |          array_to_string(ws[i:i+6], ' ') AS g FROM t),
        |r AS (SELECT doc_id, pos,
        |        row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn,
        |        count(*) OVER (PARTITION BY g) AS c
        |      FROM occ),
        |marks AS (SELECT doc_id, pos FROM r WHERE c >= 2 AND rn > 1),
        |cov AS (SELECT DISTINCT doc_id, pos + j AS idx
        |        FROM marks CROSS JOIN range(7) rr(j)),
        |tok AS (SELECT doc_id, unnest(ws) AS tok,
        |          unnest(range(len(ws))) AS idx FROM w),
        |agg AS (SELECT t.doc_id, count(*) AS n_tokens, count(c.idx) AS n_removed,
        |          coalesce(string_agg(CASE WHEN c.idx IS NULL THEN t.tok END,
        |            ' ' ORDER BY t.idx), '') AS text_clean
        |        FROM tok t LEFT JOIN cov c
        |          ON t.doc_id = c.doc_id AND t.idx = c.idx
        |        GROUP BY 1)
        |SELECT doc_id, n_tokens, n_removed, text_clean
        |FROM agg ORDER BY doc_id""".stripMargin),

    // decontamination via a Bloom-sketch prefilter + exact verify join —
    // the eval-set-too-big-to-broadcast regime; output contract-equal to
    // q59 (the oracle is literally the same SQL)
    Q("q78_decontam_bloom", (s, dir) =>
      PipelineOps.decontaminateBloom(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          TextFixtures.benchmarkNgrams(s, dir), n = 8, fpp = 0.001)
        .select(col("id").as("doc_id"), col("n_hits"),
          col("contaminated").cast("int").as("contaminated"))
        .orderBy("doc_id"),
      // LITERALLY q59's oracle (one shared definition): the Bloom path must
      // be indistinguishable from the broadcast-exact path
      decontaminateSql),

    // CCNet-style perplexity bucketing: unigram LM (add-one) trained on the
    // even-id half, every doc scored in integer micro-nats, head/middle/
    // tail tertiles — exact integer sums make the oracle bit-exact
    Q("q79_ngram_lm", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val (lm, oov) = graft.text.NgramLm.trainUnigram(
        docs.where(col("doc_id") % 2 === 0), "text")
      graft.text.NgramLm.bucketNtile(
          graft.text.NgramLm.score(docs, "doc_id", "text", lm, oov))
        .select(col("id").as("doc_id"), col("n_tokens"), col("sum_unll"),
          col("avg_unll"), col("ppl_bucket").cast("int").as("ppl_bucket"))
        .orderBy("doc_id")
    },
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w
        |             FROM documents WHERE doc_id % 2 = 0),
        |cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
        |nv AS (SELECT (SELECT count(*) FROM tok) + (SELECT count(*) FROM cnt) AS denom),
        |lm AS (SELECT w, CAST(round(-ln((c + 1.0) / denom) * 1e6, 0) AS BIGINT) AS unll
        |       FROM cnt, nv),
        |dtok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |sc AS (SELECT doc_id, coalesce(lm.unll,
        |         (SELECT CAST(round(-ln(1.0 / denom) * 1e6, 0) AS BIGINT) FROM nv)) AS unll
        |       FROM dtok LEFT JOIN lm USING (w)),
        |agg AS (SELECT doc_id, count(*) AS n_tokens, CAST(sum(unll) AS BIGINT) AS sum_unll
        |        FROM sc GROUP BY 1),
        |fin AS (SELECT doc_id, n_tokens, sum_unll,
        |          CAST(sum_unll // n_tokens AS BIGINT) AS avg_unll FROM agg)
        |SELECT doc_id, n_tokens, sum_unll, avg_unll,
        |  CAST(ntile(3) OVER (ORDER BY avg_unll, doc_id) AS INT) AS ppl_bucket
        |FROM fin ORDER BY doc_id""".stripMargin),

    // deterministic training-order shuffle: (shard, pos) as a pure function
    // of (id, seed) — the oracle re-derives the identical md5 key and
    // hex-nibble shard, so the full layout is checked, not cardinalities
    Q("q83_train_shuffle", (s, dir) =>
      PipelineOps.trainingShuffle(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id",
          numShards = 8, seed = "epoch0")
        .select(col("id").as("doc_id"), col("shard"), col("pos"))
        .orderBy("doc_id"),
      """WITH kd AS (SELECT doc_id, md5(doc_id || ':epoch0') AS k FROM documents),
        |sh AS (SELECT doc_id, k,
        |  CAST(((instr('0123456789abcdef', substring(k, 1, 1)) - 1) * 256 +
        |        (instr('0123456789abcdef', substring(k, 2, 1)) - 1) * 16 +
        |        (instr('0123456789abcdef', substring(k, 3, 1)) - 1)) % 8 AS INT)
        |    AS shard
        |  FROM kd)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) AS INT)
        |    AS pos
        |FROM sh ORDER BY doc_id""".stripMargin),

    // per-domain cap: the 25 largest pages per domain (n_chars DESC,
    // doc_id tiebreak) through the skew-safe two-phase top-k
    Q("q84_domain_cap", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val d = TextFixtures.urlCorpus(s, dir)
        .select(col("doc_id"), PipelineOps.urlDomain(col("url")).as("domain"))
        .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      PipelineOps.capPerDomain(d, "doc_id", "domain", "n_chars", k = 25)
        .select(col("id").as("doc_id"), col("domain"), col("domain_rank"))
        .orderBy("domain", "domain_rank")
    },
      {
      val domainSql = """regexp_replace(
        |  lower(regexp_extract(url, '^[a-zA-Z]+://([^/:]*)', 1)),
        |  '^www\.', '', 'g')""".stripMargin
      s"""WITH u AS (${graft.fixtures.TextFixtures.urlCorpusSql}),
         |d AS (SELECT doc_id, $domainSql AS domain, n_chars
         |      FROM u JOIN documents USING (doc_id)),
         |r AS (SELECT doc_id, domain,
         |        row_number() OVER (PARTITION BY domain
         |                           ORDER BY n_chars DESC, doc_id) AS domain_rank
         |      FROM d)
         |SELECT doc_id, domain, CAST(domain_rank AS INT) AS domain_rank
         |FROM r WHERE domain_rank <= 25 ORDER BY domain, domain_rank""".stripMargin
    }),

    // pretrained linear quality filter (fastText shape): hashed token
    // features, integer weights, exact integer score sums — the oracle
    // recomputes the weight of every token from the same closed form
    Q("q86_quality_model", (s, dir) =>
      PipelineOps.linearQualityScore(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_tokens"), col("score"), col("keep"))
        .orderBy("doc_id"),
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |             FROM documents),
        |wt AS (SELECT doc_id,
        |  ((instr('0123456789abcdef', substring(md5(w), 1, 1)) - 1) * 256 +
        |   (instr('0123456789abcdef', substring(md5(w), 2, 1)) - 1) * 16 +
        |   (instr('0123456789abcdef', substring(md5(w), 3, 1)) - 1)) % 2001 - 1000
        |    AS wv
        |  FROM tok),
        |agg AS (SELECT doc_id, count(*) AS n_tokens,
        |          CAST(sum(wv) AS BIGINT) AS score FROM wt GROUP BY 1)
        |SELECT doc_id, n_tokens, score, CAST(score > 0 AS INT) AS keep
        |FROM agg ORDER BY doc_id""".stripMargin),

    // data-recipe upsampling: en pages 2.5x, everything else 0.7x, with
    // deterministic fractional copies — the realized copy list is a pure
    // function of (id, weight), reproduced row-for-row by the oracle
    Q("q89_mix_upsample", (s, dir) =>
      PipelineOps.upsampleMixture(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id",
          when(col("lang") === "en", 2500).otherwise(700))
        .select(col("id").as("doc_id"), col("copies"), col("copy_id"))
        .orderBy("doc_id", "copy_id"),
      """WITH m AS (SELECT doc_id,
        |             CASE WHEN lang = 'en' THEN 2500 ELSE 700 END AS mi
        |           FROM documents),
        |c AS (SELECT doc_id,
        |        mi // 1000 +
        |        CASE WHEN (doc_id * 131 + 7) % 1000 < mi % 1000
        |             THEN 1 ELSE 0 END AS copies
        |      FROM m)
        |SELECT doc_id, CAST(copies AS INT) AS copies,
        |  CAST(unnest(range(copies)) AS INT) AS copy_id
        |FROM c WHERE copies > 0 ORDER BY doc_id, copy_id""".stripMargin),

    // overlapping training windows: chunkSize 40, stride 30 over the
    // whitespace token count — exact integer slicing both sides
    Q("q94_chunk_windows", (s, dir) =>
      PipelineOps.chunkTokens(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          chunkSize = 40, stride = 30)
        .select(col("id").as("doc_id"), col("chunk_id"), col("tok_start"),
          col("tok_len"), col("n_tokens"))
        .orderBy("doc_id", "chunk_id"),
      """WITH t AS (SELECT doc_id,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |           FROM documents),
        |c AS (SELECT doc_id, n, unnest(range((n - 1) // 30 + 1)) AS chunk_id
        |      FROM t)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(chunk_id * 30 AS BIGINT) AS tok_start,
        |  CAST(least(40, n - chunk_id * 30) AS BIGINT) AS tok_len,
        |  n AS n_tokens
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin),

    // vocabulary building: 50 most frequent tokens per language through
    // the skew-safe two-phase top-k (languages are mega-groups at crawl
    // scale) — the oracle ranks the same exact counts
    Q("q97_vocab_topk", (s, dir) =>
      PipelineOps.vocabTopK(
          s.read.parquet(s"$dir/documents.parquet"), "lang", "text", k = 50)
        .orderBy("lang", "rank"),
      """WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS w
        |           FROM documents),
        |c AS (SELECT lang, w, count(*) AS n FROM t GROUP BY 1, 2),
        |r AS (SELECT lang, w, n,
        |        row_number() OVER (PARTITION BY lang
        |                           ORDER BY n DESC, w) AS rank
        |      FROM c)
        |SELECT lang, w, n, CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 50 ORDER BY lang, rank""".stripMargin),

    // collocation mining: bigram PMI in integer micro-nats over adjacent
    // token pairs with corpus count >= 5 — a floating-point statistic made
    // bit-exact by exact-integer operands and one shared double expression
    Q("q99_bigram_pmi", (s, dir) =>
      PipelineOps.bigramPmi(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          minCount = 5)
        .orderBy(col("pmi_micro").desc, col("w1"), col("w2")),
      """WITH tok AS (
        |  SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS w
        |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)),
        |bg AS (
        |  SELECT doc_id, w AS w1,
        |    lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |  FROM tok),
        |c12 AS (SELECT w1, w2, count(*) AS c FROM bg WHERE w2 IS NOT NULL
        |        GROUP BY 1, 2),
        |c1 AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
        |tot AS (SELECT (SELECT count(*) FROM tok) AS n,
        |               (SELECT sum(c) FROM c12) AS b)
        |SELECT c12.w1, c12.w2, c12.c,
        |  CAST(round(ln((c12.c * n * n) / (b * a.c * d.c * 1.0)) * 1e6, 0)
        |    AS BIGINT) AS pmi_micro
        |FROM c12, tot
        |JOIN c1 a ON c12.w1 = a.w
        |JOIN c1 d ON c12.w2 = d.w
        |WHERE c12.c >= 5
        |ORDER BY pmi_micro DESC, w1, w2""".stripMargin),

    // Jelinek-Mercer interpolated bigram LM (0.7 bigram + 0.3 add-one
    // unigram, two backoff tiers), trained on the even-id half, scoring
    // every doc in integer micro-nats — the oracle rebuilds counts with
    // the identical window/join chain and the identical one-division
    // three-arm probability expression
    Q("q110_bigram_lm", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val lm = graft.text.NgramLm.trainBigram(
        docs.where(col("doc_id") % 2 === 0), "text")
      graft.text.NgramLm.scoreBigram(docs, "doc_id", "text", lm)
        .select(col("id").as("doc_id"), col("n_tokens"), col("sum_unll"),
          col("avg_unll"))
        .orderBy("doc_id")
    },
      """WITH tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
        |ttok AS (SELECT doc_id,
        |           generate_subscripts(l, 1) - 1 AS pos, unnest(l) AS w
        |         FROM (SELECT doc_id, string_split(text, ' ') AS l FROM tr)),
        |uni AS (SELECT w, count(*) AS c FROM ttok GROUP BY 1),
        |nv AS (SELECT (SELECT sum(c) FROM uni) + (SELECT count(*) FROM uni)
        |         AS d),
        |bg AS (SELECT w AS w1,
        |         lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |       FROM ttok),
        |pairs AS (SELECT w1, w2, count(*) AS c12 FROM bg
        |          WHERE w2 IS NOT NULL GROUP BY 1, 2),
        |stok AS (SELECT doc_id,
        |           generate_subscripts(l, 1) - 1 AS pos, unnest(l) AS w2
        |         FROM (SELECT doc_id, string_split(text, ' ') AS l
        |               FROM documents)),
        |seq AS (SELECT doc_id, pos, w2,
        |          lag(w2) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
        |        FROM stok),
        |sc AS (SELECT s.doc_id,
        |         CAST(round(-ln(
        |           CASE WHEN s.w1 IS NULL OR u1.c IS NULL
        |                THEN (coalesce(u2.c, 0) + 1) / d
        |                WHEN p.c12 IS NULL
        |                THEN (3 * (coalesce(u2.c, 0) + 1)) / (10 * d)
        |                ELSE (7 * p.c12 * d
        |                      + 3 * u1.c * (coalesce(u2.c, 0) + 1))
        |                     / (10 * u1.c * d)
        |           END) * 1e6, 0) AS BIGINT) AS unll
        |       FROM seq s CROSS JOIN nv
        |       LEFT JOIN uni u1 ON s.w1 = u1.w
        |       LEFT JOIN uni u2 ON s.w2 = u2.w
        |       LEFT JOIN pairs p ON s.w1 = p.w1 AND s.w2 = p.w2)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(unll) AS BIGINT) AS sum_unll,
        |  CAST(sum(unll) // count(*) AS BIGINT) AS avg_unll
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Count-Min heavy-hitter profile: a 3x512 sketch built as one keyed
    // rollup, point estimates for the exact top-20 tokens, the
    // overestimate guarantee asserted as a column — the sketch arithmetic
    // is engine-neutral (md5-prefix hash rows, integer sums, least)
    Q("q120_cms_heavy", (s, dir) => {
      import graft.text.CountMin
      val counts = s.read.parquet(s"$dir/documents.parquet")
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      val sk = CountMin.sketch(counts, "w", "c", width = 512)
      val top = counts.orderBy(col("c").desc, col("w")).limit(20)
      CountMin.estimate(sk, top, "w", width = 512)
        .join(counts, "w")
        .select(col("w"), col("c").as("exact"), col("cms_est"),
          (col("cms_est") >= col("c")).cast("int").as("ge_ok"))
        .orderBy(col("exact").desc, col("w"))
    },
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w
        |             FROM documents),
        |c AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
        |r AS (SELECT unnest([1, 2, 3]) AS row),
        |buck AS (SELECT r.row, c.w, c.c,
        |    ((instr('0123456789abcdef', substring(
        |        md5('r' || CAST(r.row AS VARCHAR) || ':' || c.w), 1, 1)) - 1)
        |       * 256 +
        |     (instr('0123456789abcdef', substring(
        |        md5('r' || CAST(r.row AS VARCHAR) || ':' || c.w), 2, 1)) - 1)
        |       * 16 +
        |     (instr('0123456789abcdef', substring(
        |        md5('r' || CAST(r.row AS VARCHAR) || ':' || c.w), 3, 1)) - 1)
        |    ) % 512 AS bucket
        |  FROM c, r),
        |sk AS (SELECT row, bucket, CAST(sum(c) AS BIGINT) AS counter
        |       FROM buck GROUP BY 1, 2),
        |top AS (SELECT w, c FROM c ORDER BY c DESC, w LIMIT 20),
        |est AS (SELECT t.w, t.c AS exact,
        |          least(max(CASE WHEN b.row = 1 THEN sk.counter END),
        |                max(CASE WHEN b.row = 2 THEN sk.counter END),
        |                max(CASE WHEN b.row = 3 THEN sk.counter END))
        |            AS cms_est
        |        FROM top t JOIN buck b ON t.w = b.w
        |        JOIN sk ON sk.row = b.row AND sk.bucket = b.bucket
        |        GROUP BY t.w, t.c)
        |SELECT w, exact, cms_est,
        |  CAST(CASE WHEN cms_est >= exact THEN 1 ELSE 0 END AS INT) AS ge_ok
        |FROM est ORDER BY exact DESC, w""".stripMargin),

    // dataset-card percentiles: exact discrete p50/p90/p99 of doc length
    // per language — pure integer rank arithmetic (value at ordered rank
    // ceil(n·p/100)), engine-identical with no interpolation
    Q("q123_length_percentiles", (s, dir) =>
      PipelineOps.exactPercentiles(
          s.read.parquet(s"$dir/documents.parquet"),
          "lang", "n_chars", "doc_id", Seq(50, 90, 99))
        .withColumnRenamed("g", "lang")
        .orderBy("lang"),
      """WITH r AS (SELECT lang, n_chars,
        |    CAST(row_number() OVER (PARTITION BY lang
        |        ORDER BY n_chars, doc_id) AS BIGINT) AS r,
        |    CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
        |  FROM documents)
        |SELECT lang, max(n) AS n_rows,
        |  max(CASE WHEN r = (n * 50 + 99) // 100 THEN n_chars END) AS p50,
        |  max(CASE WHEN r = (n * 90 + 99) // 100 THEN n_chars END) AS p90,
        |  max(CASE WHEN r = (n * 99 + 99) // 100 THEN n_chars END) AS p99
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin),

    // soft dedup: duplicates downweighted, not dropped — each md5 group
    // survives with ~1 expected copy via the deterministic q89 hash gate;
    // the oracle re-derives every keep decision from the same closed form
    Q("q128_soft_dedup", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val corpus = docs
        .unionByName(docs.where(col("doc_id") % 4 === 0)
          .select((col("doc_id") + 500000).as("doc_id"), col("text")))
        .unionByName(docs.where(col("doc_id") % 20 === 0)
          .select((col("doc_id") + 600000).as("doc_id"), col("text")))
      graft.text.PipelineOps.softDedupWeights(corpus, "doc_id", "text")
        .orderBy("id")
    },
      """WITH c AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 500000, text FROM documents
        |    WHERE doc_id % 4 = 0
        |  UNION ALL SELECT doc_id + 600000, text FROM documents
        |    WHERE doc_id % 20 = 0),
        |g AS (SELECT doc_id AS id,
        |        CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT)
        |          AS n_dups
        |      FROM c),
        |w AS (SELECT id, n_dups,
        |        CAST(1000 // n_dups AS BIGINT) AS milli FROM g)
        |SELECT id, n_dups, milli,
        |  CAST(milli // 1000 +
        |    CASE WHEN (id * 131 + 7) % 1000 < milli % 1000
        |         THEN 1 ELSE 0 END AS INT) AS keep
        |FROM w ORDER BY id""".stripMargin),

    // trending terms between two crawls: log-ratio of per-term counts in
    // integer micro-nats (one division + ln + round over exact (c+1)
    // operands), top-20 risers — the corpus-drift monitor
    Q("q133_trending_terms", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      def counts(cond: org.apache.spark.sql.Column) = docs.where(cond)
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val v1 = counts(col("doc_id") % 2 === 0)
        .withColumnRenamed("c", "c1")
      val v2 = counts(col("doc_id") % 2 =!= 0)
        .withColumnRenamed("c", "c2")
      v1.join(v2, Seq("w"), "full_outer")
        .select(col("w"), coalesce(col("c1"), lit(0L)).as("c1"),
          coalesce(col("c2"), lit(0L)).as("c2"))
        .where(col("c1") + col("c2") >= 20)
        .withColumn("drift_micro",
          round(log((col("c2") + lit(1L)) / (col("c1") + lit(1L))) * 1e6, 0)
            .cast("long"))
        // salted two-phase top-k (the relatedTopK discipline): the whole
        // vocabulary never funnels through one task — each of 16 salt
        // shards keeps its local top-20, and only ≤ 16·20 survivors meet
        // the final (tiny) total-order window
        .withColumn("__salt", pmod(hash(col("w")), lit(16)))
        .withColumn("__pr", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("__salt")
            .orderBy(col("drift_micro").desc, col("w"))))
        .where(col("__pr") <= 20)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("drift_micro").desc, col("w"))))
        .where(col("rank") <= 20)
        .select(col("rank").cast("int").as("rank"), col("w"), col("c1"),
          col("c2"), col("drift_micro"))
        .orderBy("rank")
    },
      """WITH t1 AS (SELECT unnest(string_split(text, ' ')) AS w
        |            FROM documents WHERE doc_id % 2 = 0),
        |t2 AS (SELECT unnest(string_split(text, ' ')) AS w
        |       FROM documents WHERE doc_id % 2 <> 0),
        |c1 AS (SELECT w, count(*) AS c1 FROM t1 GROUP BY 1),
        |c2 AS (SELECT w, count(*) AS c2 FROM t2 GROUP BY 1),
        |j AS (SELECT coalesce(c1.w, c2.w) AS w,
        |        coalesce(c1.c1, 0) AS c1, coalesce(c2.c2, 0) AS c2
        |      FROM c1 FULL OUTER JOIN c2 ON c1.w = c2.w),
        |f AS (SELECT w, c1, c2,
        |        CAST(round(ln((c2 + 1.0) / (c1 + 1)) * 1e6, 0) AS BIGINT)
        |          AS drift_micro
        |      FROM j WHERE c1 + c2 >= 20),
        |r AS (SELECT *, row_number() OVER
        |        (ORDER BY drift_micro DESC, w) AS rank FROM f)
        |SELECT CAST(rank AS INT) AS rank, w, c1, c2, drift_micro
        |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin),

    // deterministic stratified sampling: per-language keep rates decided
    // by the (id·173 + 11) mod 1000 residue gate — reproducible on any
    // engine/partitioning and stable under appends, which df.sample/
    // TABLESAMPLE cannot give; every decision re-derived by the oracle
    Q("q142_stratified_sample", (s, dir) => {
      import graft.text.PipelineOps
      PipelineOps.stratifiedSample(
          s.read.parquet(s"$dir/documents.parquet"),
          "doc_id", "lang",
          Map("en" -> 100, "zh" -> 400, "de" -> 250), defaultMilli = 500)
        .select(col("doc_id"), col("lang"), col("rate_milli"), col("keep"))
        .orderBy("doc_id")
    },
      """WITH d AS (SELECT doc_id, lang,
        |    CAST(CASE lang WHEN 'en' THEN 100 WHEN 'zh' THEN 400
        |         WHEN 'de' THEN 250 ELSE 500 END AS BIGINT) AS rate_milli
        |  FROM documents)
        |SELECT doc_id, lang, rate_milli,
        |  CAST(CASE WHEN (doc_id * 173 + 11) % 1000 < rate_milli
        |       THEN 1 ELSE 0 END AS INT) AS keep
        |FROM d ORDER BY doc_id""".stripMargin),

    // inverted-index storage: delta+varint posting segments per (term,
    // doc-id shard) with a decode∘encode == id round-trip certificate on
    // the real bytes; the oracle predicts the byte count per segment from
    // the gap arithmetic (LEB128 length ladder), so a single byte of
    // drift in the physical encoding breaks the hash match
    Q("q148_postings_varint", (s, dir) => {
      import graft.text.Postings
      Postings.compressedSegments(
          s.read.parquet(s"$dir/documents.parquet"),
          "doc_id", "text", segmentSize = 128)
        .orderBy("w", "seg")
    },
      // LEB128 length ladder over the gap sequence: first id absolute, then
      // strictly-positive deltas; byte count per value = 1 + ⌊bits/7⌋
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |           FROM documents),
        |p AS (SELECT DISTINCT w, doc_id // 128 AS seg, doc_id FROM t
        |      WHERE w <> ''),
        |g AS (SELECT w, seg, doc_id,
        |    doc_id - lag(doc_id) OVER (PARTITION BY w, seg ORDER BY doc_id)
        |      AS gap
        |  FROM p),
        |v AS (SELECT w, seg,
        |    CASE WHEN coalesce(gap, doc_id) < 128 THEN 1
        |         WHEN coalesce(gap, doc_id) < 16384 THEN 2
        |         WHEN coalesce(gap, doc_id) < 2097152 THEN 3
        |         WHEN coalesce(gap, doc_id) < 268435456 THEN 4
        |         ELSE 5 END AS nb, doc_id
        |  FROM g)
        |SELECT w, CAST(seg AS BIGINT) AS seg, count(*) AS df,
        |  min(doc_id) AS first_id, max(doc_id) AS last_id,
        |  CAST(sum(nb) AS BIGINT) AS bytes, TRUE AS roundtrip_ok
        |FROM v GROUP BY w, seg ORDER BY w, seg""".stripMargin),

    // Okapi BM25 top-k retrieval in exact integer arithmetic (cleared
    // k1/b/avgdl fractions + one micro-nat idf quantization per term);
    // oracle re-derives every score from the same closed formula
    Q("q151_bm25_topk", (s, dir) => {
      import graft.text.CrawlOps
      CrawlOps.bm25TopK(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          queries = Seq(
            0 -> Seq("table", "scan", "join"),
            1 -> Seq("window", "data"),
            2 -> Seq("customer", "value", "fast", "slow")),
          k = 10)
        .orderBy("qid", "rank")
    },
      """WITH t AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS w
        |           FROM documents),
        |p AS (SELECT id, w, count(*) AS tf FROM t WHERE w <> ''
        |      GROUP BY 1, 2),
        |l AS (SELECT id, sum(tf) AS dl FROM p GROUP BY 1),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(dl) AS BIGINT) AS a FROM l),
        |q(qid, w) AS (VALUES (0, 'table'), (0, 'scan'), (0, 'join'),
        |  (1, 'window'), (1, 'data'),
        |  (2, 'customer'), (2, 'value'), (2, 'fast'), (2, 'slow')),
        |dfq AS (SELECT w, count(*) AS df FROM p
        |        WHERE w IN (SELECT w FROM q) GROUP BY w),
        |idf AS (SELECT w, CAST(round(
        |    ln(1 + (g.n - df + 0.5) / (df + 0.5)) * 1e6) AS BIGINT)
        |    AS idf_micro
        |  FROM dfq, g),
        |sc AS (SELECT q.qid, p.id,
        |    CAST(sum((idf_micro * 22 * g.a * p.tf) //
        |             (10 * g.a * p.tf + 3 * g.a + 9 * l.dl * g.n))
        |      AS BIGINT) AS score
        |  FROM p JOIN q USING (w) JOIN idf USING (w) JOIN l USING (id), g
        |  GROUP BY 1, 2),
        |r AS (SELECT qid, id, score, row_number() OVER
        |        (PARTITION BY qid ORDER BY score DESC, id) AS rank
        |      FROM sc)
        |SELECT CAST(qid AS INT) AS qid, CAST(rank AS INT) AS rank, id, score
        |FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin),

    // length-bucketed training batches: bucket by token length, fill
    // 8-doc batches in id order, account the padding waste of the
    // rectangular batch tensor — the packing-efficiency report a trainer
    // runs next to packSequences (q60)
    Q("q155_length_batching", (s, dir) =>
      graft.text.Batching.lengthBucketedBatches(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          bucketWidth = 16, batchSize = 8)
        .orderBy("bucket", "batch"),
      """WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n
        |           FROM documents),
        |b AS (SELECT doc_id, n, n // 16 AS bucket FROM t),
        |r AS (SELECT doc_id, n, bucket,
        |    row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1
        |      AS rn
        |  FROM b),
        |g AS (SELECT bucket, rn // 8 AS batch, count(*) AS n_docs,
        |    max(n) AS max_len, sum(n) AS sum_len
        |  FROM r GROUP BY 1, 2)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(batch AS BIGINT) AS batch, n_docs, max_len,
        |  CAST(max_len * n_docs - sum_len AS BIGINT) AS pad_waste
        |FROM g ORDER BY bucket, batch""".stripMargin),

    // asymmetric containment over word trigrams: the clone/subsumption
    // pairs Jaccard misses (quoted-inside-longer-page), via the
    // inverted-index self-join — shared trigram count / |A|'s trigrams
    // in integer milli-units, τ = 0.8
    Q("q156_containment", (s, dir) =>
      graft.text.Containment.containmentPairs(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          n = 3, tauMilli = 800)
        .orderBy("id_a", "id_b"),
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l
        |           FROM documents),
        |s0 AS (SELECT doc_id, generate_subscripts(l, 1) - 1 AS i,
        |         unnest(l) AS w
        |       FROM t),
        |tri AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
        |  FROM s0 a JOIN s0 b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |            JOIN s0 c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
        |shs AS (SELECT DISTINCT doc_id, sh FROM tri),
        |sz AS (SELECT doc_id, count(*) AS sa FROM shs GROUP BY 1),
        |shared AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
        |    count(*) AS sh
        |  FROM shs x JOIN shs y ON x.sh = y.sh AND x.doc_id <> y.doc_id
        |  GROUP BY 1, 2),
        |c AS (SELECT id_a, id_b, (1000 * sh) // sa AS cont_milli
        |      FROM shared JOIN sz ON shared.id_a = sz.doc_id)
        |SELECT id_a, id_b, CAST(cont_milli AS BIGINT) AS cont_milli
        |FROM c WHERE cont_milli >= 800 ORDER BY id_a, id_b""".stripMargin),

    // corpus drift as a per-term Pearson chi-square between the two
    // doc_id-parity slices, quantized to integer micro-units by ONE double
    // rounding per term (the q151 idf discipline) — the significance-test
    // companion to the q133 trending-terms ratio; thresholds bound the
    // output, so there is NO global rank window
    Q("q161_chisq_drift", (s, dir) =>
      graft.text.Drift.chiSquareTerms(
          s.read.parquet(s"$dir/documents.parquet")
            .select(col("text"), (col("doc_id") % 2).as("slice")),
          "text", "slice", minTotal = 20L, minChiMicro = 500000L)
        .orderBy("w"),
      """WITH t AS (SELECT doc_id % 2 AS slice,
        |             unnest(string_split(text, ' ')) AS w
        |           FROM documents),
        |k AS (SELECT w,
        |    CAST(sum(CASE WHEN slice = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN slice = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM t WHERE w <> '' GROUP BY w),
        |g AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |             CAST(sum(c2) AS BIGINT) AS n2 FROM k),
        |s AS (SELECT w, c1, c2,
        |    CAST(round((1000000.0 * CAST(n1 + n2 AS DOUBLE)
        |      * CAST(c1 * (n2 - c2) - c2 * (n1 - c1) AS DOUBLE)
        |      * CAST(c1 * (n2 - c2) - c2 * (n1 - c1) AS DOUBLE))
        |      / (CAST(c1 + c2 AS DOUBLE) * CAST(n1 + n2 - c1 - c2 AS DOUBLE)
        |         * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))) AS BIGINT)
        |      AS chi2_micro
        |  FROM k, g WHERE c1 + c2 >= 20)
        |SELECT w, c1, c2, chi2_micro FROM s
        |WHERE chi2_micro >= 500000 ORDER BY w""".stripMargin),

    // incremental ingest dedup: a new batch (every 4th doc, one appended
    // token) against the indexed corpus — band join is new×old ONLY, so
    // the old×old work is never redone; pairs exact-verified and the
    // oracle recomputes them from raw shingles
    Q("q163_incremental_dedup", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val corpus = docs.select(col("doc_id"), col("text"))
      val batch = docs.where(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(col("text"), lit(" graftmark")).as("text"))
      graft.text.IncrementalDedup.newVsCorpusPairs(
          corpus, batch, "doc_id", "text",
          n = 3, numHashes = 64, bands = 32, tau = 0.8)
        .orderBy("new_id", "old_id")
    },
      """WITH oldc AS (SELECT doc_id AS id, text FROM documents),
        |newc AS (SELECT doc_id + 100000 AS id, text || ' graftmark' AS text
        |         FROM documents WHERE doc_id % 4 = 0),
        |allc AS (SELECT * FROM oldc UNION ALL SELECT * FROM newc),
        |w AS (SELECT id, string_split(text, ' ') AS ws FROM allc),
        |shl AS (SELECT id, [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |                    FOR i IN range(1, len(ws) - 1)] AS l FROM w),
        |sh AS (SELECT DISTINCT id, unnest(l) AS sh FROM shl),
        |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY 1),
        |pairs AS (SELECT n.id AS new_id, o.id AS old_id, count(*) AS inter
        |          FROM sh n JOIN sh o ON n.sh = o.sh
        |          WHERE n.id >= 100000 AND o.id < 100000 GROUP BY 1, 2),
        |j AS (SELECT new_id, old_id,
        |        CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE)
        |          AS jac
        |      FROM pairs
        |      JOIN sizes sa ON sa.id = pairs.new_id
        |      JOIN sizes sb ON sb.id = pairs.old_id)
        |SELECT new_id, old_id, jac FROM j WHERE jac >= 0.8
        |ORDER BY new_id, old_id""".stripMargin),

    // retrieval evaluation: MRR and recall@10 of the BM25 ranking against
    // a deterministic gold labeling (doc_id ≡ qid+7 mod 25), in integer
    // micro/milli units — two keyed aggregates, no window
    Q("q164_retrieval_mrr", (s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val topk = graft.text.CrawlOps.bm25TopK(docs, "doc_id", "text",
        queries = bmQueries, k = 10)
      val qdf = Seq(0, 1, 2).toDF("qid")
      val gold = docs.select(col("doc_id").as("id"))
        .crossJoin(broadcast(qdf))
        .where(col("id") % 25 === col("qid") + 7)
      graft.text.EvalOps.mrrAtK(topk, gold).orderBy("qid")
    },
      s"""WITH $bm25Ctes,
         |gold AS (SELECT qs.qid, d.doc_id AS id
         |  FROM (SELECT DISTINCT qid FROM q) qs, documents d
         |  WHERE d.doc_id % 25 = qs.qid + 7),
         |hit AS (SELECT r.qid, CAST(count(*) AS BIGINT) AS hits,
         |    CAST(min(r.rank) AS BIGINT) AS first_rank
         |  FROM r JOIN gold ON r.qid = gold.qid AND r.id = gold.id
         |  WHERE r.rank <= 10 GROUP BY 1),
         |ng AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_gold
         |       FROM gold GROUP BY 1)
         |SELECT CAST(ng.qid AS INT) AS qid, n_gold,
         |  CAST(coalesce(hits, 0) AS BIGINT) AS hits,
         |  CAST(coalesce(first_rank, 0) AS BIGINT) AS first_rank,
         |  CAST(CASE WHEN first_rank IS NULL THEN 0
         |       ELSE 1000000 // first_rank END AS BIGINT) AS mrr_micro,
         |  CAST((1000 * coalesce(hits, 0)) // n_gold AS BIGINT)
         |    AS recall_milli
         |FROM ng LEFT JOIN hit ON ng.qid = hit.qid ORDER BY qid""".stripMargin),

    // split hygiene: near-dup pairs straddling the md5-hash train/test
    // split — the eval-contamination audit (a near copy of a test doc in
    // train leaks the answer); composes the verified q15 pair table with
    // the content-free hash split
    Q("q165_split_leakage", (s, dir) => {
      import graft.text.{TextOps, EvalOps, PreCollapse}
      val corpus = graft.fixtures.TextFixtures.nearDupCorpus(s, dir, " graftmark")
      val pairs = TextOps.minHashLshPairs(corpus, "doc_id", "text",
        n = 3, numHashes = 64, bands = 32, tau = 0.8,
        preDedupExact = PreCollapse.Assume)
      val splits = corpus.select(col("doc_id").as("id"),
        EvalOps.hashSplitCol(col("doc_id")).as("split"))
      EvalOps.splitLeaks(pairs, splits).orderBy("id_a", "id_b")
    },
      {
      val pairsSql = jaccardPairsSql(
        graft.fixtures.TextFixtures.nearDupCorpusSql(" graftmark"), 0.8)
      s"""WITH pr AS ($pairsSql),
         |sp AS (SELECT doc_id AS id,
         |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'c'
         |         THEN 0 ELSE 1 END AS split
         |  FROM (${graft.fixtures.TextFixtures.nearDupCorpusSql(" graftmark")}) c)
         |SELECT pr.id_a, pr.id_b, CAST(sa.split AS INT) AS split_a,
         |  CAST(sb.split AS INT) AS split_b
         |FROM pr JOIN sp sa ON sa.id = pr.id_a
         |        JOIN sp sb ON sb.id = pr.id_b
         |WHERE sa.split <> sb.split ORDER BY id_a, id_b""".stripMargin
    }),

    // result highlighting: for each (query, top-3 BM25 doc) the 8-token
    // window with the most query-term hits (ties -> earliest), plus the
    // reconstructed snippet text; corpus semi-joined to the top-k first,
    // argmax via keyed struct-min (no rank window anywhere)
    Q("q166_snippets", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val topk = graft.text.CrawlOps.bm25TopK(docs, "doc_id", "text",
        queries = bmQueries, k = 3)
      graft.text.Snippets.bestWindows(docs, "doc_id", "text",
          topk.select(col("qid"), col("id")), bmQueries, width = 8)
        .orderBy("qid", "id")
    },
      s"""WITH $bm25Ctes,
         |t3 AS (SELECT qid, id FROM r WHERE rank <= 3),
         |wsx AS (SELECT doc_id AS id, string_split(text, ' ') AS toks
         |        FROM documents WHERE doc_id IN (SELECT id FROM t3)),
         |tk AS (SELECT id, len(toks) AS n,
         |         generate_subscripts(toks, 1) - 1 AS pos, unnest(toks) AS w
         |       FROM wsx),
         |qp AS (SELECT q.qid, tk.id, tk.pos AS p FROM tk JOIN q ON tk.w = q.w),
         |st AS (SELECT id, pos AS st FROM tk
         |       WHERE pos <= greatest(n - 8, 0)),
         |scq AS (SELECT qp.qid, qp.id, st.st, count(*) AS n_hits
         |  FROM qp JOIN st ON qp.id = st.id
         |    AND qp.p >= st.st AND qp.p < st.st + 8
         |  GROUP BY 1, 2, 3),
         |b AS (SELECT qid, id, st, n_hits, row_number() OVER
         |        (PARTITION BY qid, id ORDER BY n_hits DESC, st) AS rn
         |      FROM scq),
         |fin AS (SELECT b.qid, b.id, b.st, b.n_hits FROM b
         |        JOIN t3 ON b.qid = t3.qid AND b.id = t3.id WHERE rn = 1)
         |SELECT CAST(fin.qid AS INT) AS qid, fin.id,
         |  CAST(st AS BIGINT) AS start, CAST(n_hits AS BIGINT) AS n_hits,
         |  array_to_string(wsx.toks[st + 1 : st + 8], ' ') AS snippet
         |FROM fin JOIN wsx ON wsx.id = fin.id ORDER BY qid, fin.id""".stripMargin),

    // reproducible weighted sampling (Efraimidis-Sprites): top-50 docs by
    // the quality-weight key ln(u)/w with a content-free md5-derived
    // uniform, quantized to micro-units — the auditable data-mixing draw;
    // rank via the salted two-phase top-k
    Q("q167_weighted_sample", (s, dir) =>
      graft.text.WeightedSample.topKWeighted(
          s.read.parquet(s"$dir/documents.parquet")
            .select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", k = 50)
        .orderBy("rank"),
      {
      val hv = graft.text.WeightedSample.hexValSql("doc_id")
      s"""WITH kx AS (SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS w,
         |    CAST(round(1000000.0 * ln(($hv + 1) / 16777216.0)
         |      / CAST(n_chars AS DOUBLE)) AS BIGINT) AS key_micro
         |  FROM documents WHERE n_chars > 0),
         |r AS (SELECT id, w, key_micro, row_number() OVER
         |        (ORDER BY key_micro DESC, id) AS rank FROM kx)
         |SELECT CAST(rank AS INT) AS rank, id, w, key_micro FROM r
         |WHERE rank <= 50 ORDER BY rank""".stripMargin
    }),

    // C4-style normalized dedup: documents plus case/punctuation-mangled
    // copies (UPPERCASE + '!!', id+100000) collapse to the same normalized
    // hash; only hashes and ids shuffle
    Q("q168_normalized_dedup", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val corpus = d.select(col("doc_id"), col("text"))
        .unionByName(d.where(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"),
            concat(upper(col("text")), lit("!!")).as("text")))
      graft.text.NormalizeDedup.dupGroups(corpus, "doc_id", "text")
        .orderBy("rep_id")
    },
      """WITH corpus AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, upper(text) || '!!'
        |  FROM documents WHERE doc_id % 3 = 0),
        |n AS (SELECT doc_id, md5(trim(regexp_replace(
        |    regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |    ' +', ' ', 'g'))) AS nh
        |  FROM corpus),
        |g AS (SELECT nh, min(doc_id) AS rep_id,
        |        CAST(count(*) AS BIGINT) AS n_members
        |      FROM n GROUP BY nh)
        |SELECT nh, rep_id, n_members FROM g WHERE n_members > 1
        |ORDER BY rep_id""".stripMargin),

    // MOSS winnowing: documents plus prefix-shifted copies (id+200000)
    // fingerprinted with k=8, w=4 over the first 300 chars; pairs sharing
    // >= 10 rare fingerprints (doc-freq <= 4) surface the planted copies
    Q("q171_winnowing_pairs", (s, dir) => {
      import graft.text.Winnowing
      val d = s.read.parquet(s"$dir/documents.parquet")
      val corpus = d.select(col("doc_id"), col("text"))
        .unionByName(d.where(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 200000L).as("doc_id"),
            concat(lit("zzz "), col("text")).as("text")))
        // the fixture union is two sub-128MB parquet splits — the
        // compute-bound per-doc winnow would run on two cores; spread it
        // (core-count-derived, not a constant; a real crawl input already
        // arrives in many splits and skips this)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      val fps = Winnowing.fingerprints(corpus, k = 8, w = 4, maxChars = 300)
      Winnowing.sharedPairs(fps, maxDocFreq = 4, minShared = 10)
        .orderBy("doc_a", "doc_b")
    },
      // independent winnow: per-position k-gram md5s, window-min with the
      // full following frame BEFORE the fit filter, distinct fingerprints,
      // stop-fingerprint cut, then the pair self-join
      """WITH corpus AS (
        |  SELECT doc_id, substr(text, 1, 300) AS t FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000, substr('zzz ' || text, 1, 300)
        |  FROM documents WHERE doc_id % 7 = 0),
        |g AS (SELECT doc_id, t, length(t) - 7 AS np FROM corpus
        |      WHERE length(t) - 7 >= 4),
        |h AS (SELECT doc_id, np, t,
        |        unnest(generate_series(1, np)) AS i FROM g),
        |h2 AS (SELECT doc_id, np, i, md5(substr(t, i, 8)) AS hh FROM h),
        |fpw AS (SELECT doc_id, np, i,
        |    min(hh) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp FROM h2),
        |fp AS (SELECT DISTINCT doc_id, fp FROM fpw WHERE i <= np - 3),
        |rare AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM fp
        |    GROUP BY fp) WHERE df BETWEEN 2 AND 4),
        |k AS (SELECT f.doc_id, f.fp FROM fp f JOIN rare r USING (fp))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM k a JOIN k b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY a.doc_id, b.doc_id
        |HAVING count(*) >= 10
        |ORDER BY doc_a, doc_b""".stripMargin),

    // edit-distance near-dup: single-character mutants (position 10 -> 'Z',
    // id+300000) recovered by (length-bucket, 8-char-prefix) blocking plus
    // the codegen'd levenshtein kernel — never an all-pairs comparison
    Q("q172_editdist_neardup", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val corpus = d.select(col("doc_id"),
          substring(col("text"), 1, 160).as("t"))
        .unionByName(d
          .where(col("doc_id") % 11 === 0 && length(col("text")) >= 12)
          .select((col("doc_id") + 300000L).as("doc_id"),
            concat(substring(col("text"), 1, 9), lit("Z"),
              substring(col("text"), 11, 150)).as("t")))
      val blocked = corpus.select(col("doc_id"), col("t"),
        expr("length(t) div 16").as("lb"), substring(col("t"), 1, 8).as("pb"))
      val a = blocked.select(col("lb"), col("pb"),
        col("doc_id").as("doc_a"), col("t").as("ta"))
      val b = blocked.select(col("lb"), col("pb"),
        col("doc_id").as("doc_b"), col("t").as("tb"))
      a.join(b, Seq("lb", "pb"))
        .where(col("doc_a") < col("doc_b"))
        // bounded form: the kernel abandons a pair as soon as the distance
        // provably exceeds 2 (returns -1), turning the O(|a|·|b|) fill into
        // a 5-wide band — the dominant cost of this query at sf0.1
        .withColumn("dist", levenshtein(col("ta"), col("tb"), 2))
        .where(col("dist") >= 0 && col("dist") <= 2)
        .select(col("doc_a"), col("doc_b"), col("dist").cast("int").as("dist"))
        .orderBy("doc_a", "doc_b")
    },
      """WITH corpus AS (
        |  SELECT doc_id, substr(text, 1, 160) AS t FROM documents
        |  UNION ALL
        |  SELECT doc_id + 300000,
        |    substr(text, 1, 9) || 'Z' || substr(text, 11, 150)
        |  FROM documents WHERE doc_id % 11 = 0 AND length(text) >= 12),
        |b AS (SELECT doc_id, t, length(t) // 16 AS lb,
        |        substr(t, 1, 8) AS pb FROM corpus)
        |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |  CAST(levenshtein(x.t, y.t) AS INT) AS dist
        |FROM b x JOIN b y
        |  ON x.lb = y.lb AND x.pb = y.pb AND x.doc_id < y.doc_id
        |WHERE levenshtein(x.t, y.t) <= 2
        |ORDER BY doc_a, doc_b""".stripMargin),

    // CCNet-style perplexity filter: score every document under the
    // half-corpus bigram LM (q110's engine-exact integer micro-nats),
    // then bucket head/middle/tail at the exact 33rd/67th percentile of
    // avg_unll — the standard quality gate a pretraining mix applies
    // before sampling. Cuts are a 1-row broadcast; the corpus is scored
    // in one pass. The exact cut is computed over the VALUE HISTOGRAM
    // (exactPercentilesByValue): the only ordered single-partition frame
    // is bounded by the distinct micro-nat values, never the corpus — the
    // round-5 verdict's doc-space global sort is gone while the cut stays
    // EXACT (same ceiling-rank multiset convention, certified value-equal
    // to the row-ranked form by PerplexityCutSpec and by the oracle).
    Q("q177_perplexity_filter", (s, dir) => {
      import graft.text.{NgramLm, PipelineOps}
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val lm = NgramLm.trainBigram(docs.where(col("doc_id") % 2 === 0), "text")
      val scored = NgramLm.scoreBigram(docs, "doc_id", "text", lm)
        .transform(graft.spark.PersistTracker.persist)
      val cuts = PipelineOps.exactPercentilesByValue(
          scored, "avg_unll", Seq(33, 67))
        .select(col("p33"), col("p67"))
      scored.crossJoin(broadcast(cuts))
        .withColumn("bucket",
          when(col("avg_unll") <= col("p33"), "head")
            .when(col("avg_unll") <= col("p67"), "middle")
            .otherwise("tail"))
        .select(col("id").as("doc_id"), col("n_tokens"), col("avg_unll"),
          col("bucket"))
        .orderBy("doc_id")
    },
      // q110's engine-exact LM scoring, extended with the ceiling-rank
      // percentile cuts and the head/middle/tail labels
      """WITH tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
        |ttok AS (SELECT doc_id,
        |           generate_subscripts(l, 1) - 1 AS pos, unnest(l) AS w
        |         FROM (SELECT doc_id, string_split(text, ' ') AS l FROM tr)),
        |uni AS (SELECT w, count(*) AS c FROM ttok GROUP BY 1),
        |nv AS (SELECT (SELECT sum(c) FROM uni) + (SELECT count(*) FROM uni)
        |         AS d),
        |bg AS (SELECT w AS w1,
        |         lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |       FROM ttok),
        |pairs AS (SELECT w1, w2, count(*) AS c12 FROM bg
        |          WHERE w2 IS NOT NULL GROUP BY 1, 2),
        |stok AS (SELECT doc_id,
        |           generate_subscripts(l, 1) - 1 AS pos, unnest(l) AS w2
        |         FROM (SELECT doc_id, string_split(text, ' ') AS l
        |               FROM documents)),
        |seq AS (SELECT doc_id, pos, w2,
        |          lag(w2) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
        |        FROM stok),
        |sc AS (SELECT s.doc_id,
        |         CAST(round(-ln(
        |           CASE WHEN s.w1 IS NULL OR u1.c IS NULL
        |                THEN (coalesce(u2.c, 0) + 1) / d
        |                WHEN p.c12 IS NULL
        |                THEN (3 * (coalesce(u2.c, 0) + 1)) / (10 * d)
        |                ELSE (7 * p.c12 * d
        |                      + 3 * u1.c * (coalesce(u2.c, 0) + 1))
        |                     / (10 * u1.c * d)
        |           END) * 1e6, 0) AS BIGINT) AS unll
        |       FROM seq s CROSS JOIN nv
        |       LEFT JOIN uni u1 ON s.w1 = u1.w
        |       LEFT JOIN uni u2 ON s.w2 = u2.w
        |       LEFT JOIN pairs p ON s.w1 = p.w1 AND s.w2 = p.w2),
        |agg AS (SELECT doc_id, count(*) AS n_tokens,
        |          CAST(sum(unll) // count(*) AS BIGINT) AS avg_unll
        |        FROM sc GROUP BY doc_id),
        |r AS (SELECT avg_unll,
        |        row_number() OVER (ORDER BY avg_unll, doc_id) AS rn,
        |        count(*) OVER () AS n FROM agg),
        |cut AS (SELECT
        |    max(CASE WHEN rn = (n * 33 + 99) // 100 THEN avg_unll END)
        |      AS p33,
        |    max(CASE WHEN rn = (n * 67 + 99) // 100 THEN avg_unll END)
        |      AS p67 FROM r)
        |SELECT a.doc_id, a.n_tokens, a.avg_unll,
        |  CASE WHEN a.avg_unll <= c.p33 THEN 'head'
        |       WHEN a.avg_unll <= c.p67 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM agg a CROSS JOIN cut c ORDER BY a.doc_id""".stripMargin),

    // BPE tokenizer training: one corpus pass builds the word dict, then
    // three merge rounds that touch only the dict — weighted pair counts,
    // a 1-row winning-pair collect, a codegen'd greedy merge fold. The
    // oracle replays all three rounds (pair counting, (count DESC, pair
    // ASC) argmax, greedy application via run-offset parity) in SQL.
    Q("q180_bpe_train", (s, dir) => {
      import graft.text.Bpe
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val (_, merges) = Bpe.train(Bpe.wordDict(docs, "text"), rounds = 3)
      import s.implicits._
      merges.toDF()
        .select(col("round"), col("lsym"), col("rsym"),
          col("pairCount").as("pair_count"),
          col("tokensAfter").as("tokens_after"))
        .orderBy("round")
    },
      bpeSql),

    // content-defined chunking: prefix-edited copies (id+400000) shift
    // every byte, yet the rolling-hash boundaries resynchronize and the
    // copies still share nearly all chunks — recovered as pairs with
    // >= 3 shared rare chunks; fixed-offset chunking would find none
    Q("q185_cdc_chunks", (s, dir) => {
      import graft.text.Chunking
      val d = s.read.parquet(s"$dir/documents.parquet")
      val corpus = d.select(col("doc_id"), col("text"))
        .unionByName(d.where(col("doc_id") % 9 === 0)
          .select((col("doc_id") + 400000L).as("doc_id"),
            concat(lit("edit: "), col("text")).as("text")))
        // two small fixture splits would serialize the O(len·w) rolling-
        // hash expressions onto two cores; spread by core count (a real
        // input's many splits make this a no-op choice)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      val ch = Chunking.chunks(corpus, "doc_id", "text", w = 16, divisor = 32)
      Chunking.sharedPairs(ch, maxDocFreq = 4, minShared = 3)
        .orderBy("doc_a", "doc_b")
    },
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 400000, 'edit: ' || text FROM documents
        |  WHERE doc_id % 9 = 0),
        |cs AS (SELECT doc_id, text,
        |         list_transform(string_split(text, ''), c -> unicode(c))
        |           AS codes
        |       FROM corpus),
        |bnd AS (SELECT doc_id, text,
        |  list_filter(generate_series(16, len(codes)),
        |    i -> list_reduce(list_slice(codes, i - 15, i),
        |           (a, b) -> (a * 31 + b) % 1000003) % 32 = 0) AS bs,
        |  len(codes) AS n FROM cs),
        |cuts AS (SELECT doc_id, text,
        |  list_concat(list_concat([0], bs), [n]) AS cu FROM bnd),
        |pos AS (SELECT doc_id, text, cu,
        |          unnest(generate_series(2, len(cu))) AS k FROM cuts),
        |ch AS (SELECT DISTINCT doc_id,
        |         md5(substring(text, cu[k-1] + 1, cu[k] - cu[k-1]))
        |           AS chunk_md5
        |       FROM pos WHERE cu[k] > cu[k-1]),
        |rare AS (SELECT doc_id, chunk_md5 FROM
        |  (SELECT doc_id, chunk_md5,
        |     count(*) OVER (PARTITION BY chunk_md5) AS df FROM ch)
        |  WHERE df <= 4)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  count(*) AS shared
        |FROM rare a JOIN rare b USING (chunk_md5)
        |WHERE a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY doc_a, doc_b""".stripMargin),

    // encode the corpus under the q180-trained merges: per document,
    // word count and subword token count — dictionary words cost their
    // merged symbol count, everything else one UNK token. The dict join
    // is vocabulary-sized (broadcast here; a shuffle join at a 100 TB
    // vocabulary), and the oracle replays training AND encoding.
    Q("q186_bpe_encode", (s, dir) => {
      import graft.text.Bpe
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val (dict, _) = Bpe.train(Bpe.wordDict(docs, "text"), rounds = 3)
      val vocab = dict.select(col("w"),
        size(split(col("syms"), " ")).as("n_sub"))
      docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .join(broadcast(vocab), Seq("w"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum(coalesce(col("n_sub"), lit(1))).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    },
      s"""${bpeDictCtes},
         |${(1 to 3).map(bpeRoundSql).mkString(",\n")},
         |vocab AS (SELECT w, len(string_split(syms, ' ')) AS n_sub FROM s3),
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |        FROM documents)
         |SELECT doc_id, count(*) AS n_words,
         |  CAST(sum(coalesce(n_sub, 1)) AS BIGINT) AS n_tokens
         |FROM tok LEFT JOIN vocab USING (w)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // tokenizer-coverage audit: vocabulary from the even half of the
    // corpus, OOV rate of the FULL corpus per language — the held-out
    // fit check a data-mix change runs before committing a tokenizer
    Q("q189_vocab_coverage", (s, dir) => {
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
    },
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
        |FROM agg ORDER BY lang""".stripMargin),

    // exact-proportion stratified split: per language, EXACTLY
    // floor(70%)/floor(20%)/rest docs into train/val/test, ordered by
    // the portable md5 uniform (q167's character arithmetic) — the
    // contractual-proportions twin of q142's hash-residue gate (which is
    // append-stable but only approximate). Per-stratum window sorts are
    // the price of exactness; q142 is the 10^12-row path.
    Q("q195_exact_split", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hv = graft.text.WeightedSample.hexValSql("doc_id")
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"), expr(hv).as("u"))
      val ranked = d
        .withColumn("rn", row_number().over(
          Window.partitionBy("lang").orderBy(col("u"), col("doc_id"))))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
      ranked
        .withColumn("split",
          when(col("rn") <= expr("n * 70 div 100"), "train")
            .when(col("rn") <= expr("n * 70 div 100 + n * 20 div 100"),
              "val")
            .otherwise("test"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"))
        .orderBy("lang", "split")
    },
      {
      val hv = graft.text.WeightedSample.hexValSql("doc_id")
      s"""WITH d AS (SELECT doc_id, lang, $hv AS u FROM documents),
         |r AS (SELECT doc_id, lang,
         |        row_number() OVER (PARTITION BY lang ORDER BY u, doc_id)
         |          AS rn,
         |        count(*) OVER (PARTITION BY lang) AS n FROM d),
         |sp AS (SELECT lang, doc_id,
         |         CASE WHEN rn <= n * 70 // 100 THEN 'train'
         |              WHEN rn <= n * 70 // 100 + n * 20 // 100 THEN 'val'
         |              ELSE 'test' END AS split FROM r)
         |SELECT lang, split, count(*) AS n_docs,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM sp GROUP BY 1, 2 ORDER BY lang, split""".stripMargin
    }),

    // gazetteer geotagging: a broadcast (place-name → cell) dictionary
    // (established vocabulary, deterministic md5 cell assignment) matched
    // against document text; the document's cell is the majority vote
    // (count DESC, col ASC, row ASC). One narrow explode + broadcast
    // join + two keyed aggs — the geotag stage a content-based pipeline
    // runs where q02/q21 use url-derived coordinates.
    Q("q196_gazetteer_geotag", (s, dir) => {
      import graft.text.Bpe
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val gaz = Bpe.wordDict(docs, "text")
        .where(col("freq") >= 20)
        .select(col("w"),
          expr(s"CAST(${hv("w")} % 8 + 1 AS INT)").as("gcol"),
          expr(s"CAST((${hv("w")} div 8) % 8 + 1 AS INT)").as("grow"))
      docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .join(broadcast(gaz), "w")
        .groupBy("doc_id", "gcol", "grow").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(min(struct((-col("c")).as("nc"), col("gcol"), col("grow")))
          .as("m"), sum("c").as("n_hits"))
        .select(col("doc_id"), col("m.gcol").as("col"),
          col("m.grow").as("row"), col("n_hits"))
        .orderBy("doc_id")
    },
      s"""WITH wd AS (SELECT w, count(*) AS freq FROM
         |  (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE regexp_matches(w, '^[a-z]{2,20}$$') GROUP BY 1),
         |gaz AS (SELECT w, CAST(${hv("w")} % 8 + 1 AS INT) AS gcol,
         |          CAST((${hv("w")} // 8) % 8 + 1 AS INT) AS grow
         |        FROM wd WHERE freq >= 20),
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |        FROM documents),
         |h AS (SELECT doc_id, gcol, grow, count(*) AS c
         |      FROM tok JOIN gaz USING (w) GROUP BY 1, 2, 3),
         |r AS (SELECT doc_id, gcol, grow,
         |        sum(c) OVER (PARTITION BY doc_id) AS nh,
         |        row_number() OVER (PARTITION BY doc_id
         |          ORDER BY c DESC, gcol, grow) AS rn FROM h)
         |SELECT doc_id, gcol AS col, grow AS "row",
         |  CAST(nh AS BIGINT) AS n_hits
         |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin),

    // language-ID confusion matrix: the n-gram classifier's prediction
    // (q13's operator) against the table's label — the eval a lang
    // filter change reads before shipping
    Q("q197_langid_confusion", (s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("lang"),
          graft.text.TextOps.langId(col("text"), TextFixtures.langProfiles)
            .as("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred"),
      {
      val scores = TextFixtures.langProfiles.zipWithIndex.map {
        case ((lang, words), pos) =>
          s"SELECT doc_id, '$lang' AS lp, $pos AS pos, ${stopCntSql(words)} AS score FROM documents"
      }.mkString("\nUNION ALL ")
      s"""WITH s AS ($scores),
         |r AS (SELECT doc_id, lp, row_number() OVER (PARTITION BY doc_id
         |        ORDER BY score DESC, pos) AS rn FROM s),
         |p AS (SELECT doc_id, lp AS lang_pred FROM r WHERE rn = 1)
         |SELECT d.lang, p.lang_pred, count(*) AS n
         |FROM documents d JOIN p USING (doc_id)
         |GROUP BY 1, 2 ORDER BY lang, lang_pred""".stripMargin
    }),

    // dataset release card: the one-row audit a corpus release ships —
    // sizes, language spread, exact-dup rate, token volume, spatial
    // coverage; every number independently predicted by the oracle
    Q("q210_release_card", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val base = d.agg(
        count(lit(1)).as("n_docs"),
        countDistinct("lang").as("n_langs"),
        sum("n_chars").as("total_chars"),
        sum(size(split(col("text"), " ")).cast("long")).as("total_words"))
      val dup = d.groupBy(md5(col("text")).as("h"))
        .agg(count(lit(1)).as("c"))
        .agg(sum(when(col("c") > 1, col("c") - 1).otherwise(0L))
          .as("n_redundant"))
      val cells = Pages.geotag(Pages.pages(s, dir))
        .select((floor(col("x") / 1000.0) * 8 + floor(col("y") / 1000.0))
          .cast("long").as("cell"))
        .agg(countDistinct("cell").as("n_cells"))
      base.crossJoin(dup).crossJoin(cells)
        .withColumn("dup_permille",
          expr("n_redundant * 1000 div n_docs"))
        .select("n_docs", "n_langs", "total_chars", "total_words",
          "n_redundant", "dup_permille", "n_cells")
    },
      """WITH base AS (SELECT count(*) AS n_docs,
        |    count(DISTINCT lang) AS n_langs,
        |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_words
        |  FROM documents),
        |dup AS (SELECT CAST(sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END)
        |          AS BIGINT) AS n_redundant
        |        FROM (SELECT md5(text) AS h, count(*) AS c
        |              FROM documents GROUP BY 1)),
        |g AS (SELECT (doc_id * 48271) % 8000 AS xi,
        |        (doc_id * 16807) % 8000 AS yi FROM documents),
        |cells AS (SELECT count(DISTINCT
        |            CAST(floor(xi/1000.0) * 8 + floor(yi/1000.0) AS BIGINT))
        |            AS n_cells
        |          FROM g WHERE xi % 500 <> 0 AND yi % 500 <> 0)
        |SELECT n_docs, n_langs, total_chars, total_words, n_redundant,
        |  n_redundant * 1000 // n_docs AS dup_permille, n_cells
        |FROM base CROSS JOIN dup CROSS JOIN cells""".stripMargin),

    Q("q222_ks_drift", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .where(col("lang").isin("en", "de"))
        .select(size(split(col("text"), " ")).cast("long").as("v"),
          when(col("lang") === "en", 0).otherwise(1).as("slice"))
      graft.text.Inequality.ksTwoSample(docs, "v", "slice")
    },
      """WITH d AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS v,
        |    CASE WHEN lang = 'en' THEN 0 ELSE 1 END AS slice
        |  FROM documents WHERE lang IN ('en', 'de')),
        |byv AS (SELECT v,
        |    sum(CASE WHEN slice = 0 THEN 1 ELSE 0 END) AS c1,
        |    sum(CASE WHEN slice = 1 THEN 1 ELSE 0 END) AS c2
        |  FROM d GROUP BY 1),
        |cum AS (SELECT v,
        |    CAST(sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS k1,
        |    CAST(sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS k2
        |  FROM byv),
        |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |               CAST(sum(c2) AS BIGINT) AS n2 FROM byv),
        |gaps AS (SELECT v, abs(k1 * n2 - k2 * n1) AS gap FROM cum, tot),
        |mx AS (SELECT max(gap) AS gap FROM gaps),
        |a AS (SELECT min(v) AS ks_at FROM gaps, mx WHERE gaps.gap = mx.gap)
        |SELECT n1, n2,
        |  CAST((1000000 * mx.gap) // (n1 * n2) AS BIGINT) AS ks_e6,
        |  CAST(ks_at AS BIGINT) AS ks_at
        |FROM tot, mx, a""".stripMargin),

    Q("q226_kl_drift", (s, dir) => {
      val toks = s.read.parquet(s"$dir/documents.parquet")
        .where(col("lang").isin("en", "de"))
        .select(explode(split(col("text"), " ")).as("w"),
          when(col("lang") === "en", 0).otherwise(1).as("slice"))
        .where(col("w") =!= "")
      graft.text.Inequality.klSmoothed(toks, "w", "slice")
    },
      """WITH t AS (SELECT w,
        |    CASE WHEN lang = 'en' THEN 0 ELSE 1 END AS slice
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
        |        FROM documents WHERE lang IN ('en', 'de'))
        |  WHERE w <> ''),
        |byw AS (SELECT w,
        |    sum(CASE WHEN slice = 0 THEN 1 ELSE 0 END) AS c1,
        |    sum(CASE WHEN slice = 1 THEN 1 ELSE 0 END) AS c2
        |  FROM t GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS v,
        |    CAST(sum(c1) AS BIGINT) AS n1,
        |    CAST(sum(c2) AS BIGINT) AS n2 FROM byw),
        |lr AS (SELECT c1, CAST(round(ln(
        |      ((c1 + 1) * (n2 + v)) / ((c2 + 1) * (n1 + v)) ) * 1e6, 0)
        |    AS BIGINT) AS lr_micro
        |  FROM byw, tot)
        |SELECT v AS v_size, n1, n2,
        |  CAST(CAST(sum((c1 + 1) * lr_micro) AS HUGEINT) // (n1 + v)
        |    AS BIGINT) AS kl_micro
        |FROM lr, tot GROUP BY v, n1, n2""".stripMargin),

    // Benford first-digit audit of the document-length distribution —
    // the cheap "is this column synthetic/corrupt" screen; expected
    // counts and observed/expected ratios in exact integer units so the
    // report is bit-stable (the 9-row window is a driver-sized frame)
    Q("q257_benford", (s, dir) => {
      import s.implicits._
      val obs = s.read.parquet(s"$dir/documents.parquet")
        .where(col("n_chars") > 0)
        .select(substring(col("n_chars").cast("string"), 1, 1)
          .cast("int").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("obs"))
      val consts = benfordE9.toDF("digit", "e9")
      obs.join(broadcast(consts), "digit")
        .withColumn("n", sum(col("obs"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy()))
        .withColumn("exp_n", expr("(n * e9) div 1000000000"))
        .withColumn("ratio_e6", expr("(1000000 * obs) div exp_n"))
        .select(col("digit"), col("obs"), col("exp_n"), col("ratio_e6"))
    },
      """WITH d AS (SELECT CAST(substr(CAST(n_chars AS VARCHAR), 1, 1)
        |      AS INT) AS digit
        |    FROM documents WHERE n_chars > 0),
        |o AS (SELECT digit, count(*) AS obs FROM d GROUP BY 1),
        |c(digit, e9) AS (VALUES
        |  (1, 301029996), (2, 176091259), (3, 124938737), (4, 96910013),
        |  (5, 79181246), (6, 66946790), (7, 57991947), (8, 51152522),
        |  (9, 45757491)),
        |j AS (SELECT o.digit, o.obs, c.e9, sum(o.obs) OVER () AS n
        |      FROM o JOIN c ON c.digit = o.digit)
        |SELECT digit, CAST(obs AS BIGINT) AS obs,
        |  CAST((n * e9) // 1000000000 AS BIGINT) AS exp_n,
        |  CAST((1000000 * obs) // ((n * e9) // 1000000000) AS BIGINT)
        |    AS ratio_e6
        |FROM j""".stripMargin),

    // safety blocklist scan: per-pattern corpus occurrence totals and
    // doc frequencies from ONE pass per document (the 50-term blocklist
    // costs one traversal, not 50 regexp scans); the automaton rides the
    // generated code as a reference object, rows never leave codegen
    Q("q258_blocklist_scan", (s, dir) => {
      val cnts = ExprBridge.column(MultiPatternCounts(
        ExprBridge.expression(col("text")), patterns))
      val patNames = array(patterns.map(lit): _*)
      s.read.parquet(s"$dir/documents.parquet")
        .select(posexplode(cnts).as(Seq("pos", "c")))
        .groupBy("pos")
        .agg(sum(col("c")).as("n_occurrences"),
          sum((col("c") > 0).cast("long")).as("n_docs"))
        .select(element_at(patNames, col("pos") + 1).as("pattern"),
          col("n_occurrences"), col("n_docs"))
    },
      """WITH p(pattern) AS (VALUES
        |  ('data'), ('spark'), ('par'), ('row'), ('scan')),
        |occ AS (SELECT p.pattern,
        |    (length(d.text) - length(replace(d.text, p.pattern, '')))
        |      // length(p.pattern) AS c
        |  FROM documents d, p)
        |SELECT pattern, CAST(sum(c) AS BIGINT) AS n_occurrences,
        |  CAST(sum(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs
        |FROM occ GROUP BY pattern""".stripMargin),

    // PII validity gate: 16-digit candidates synthesized from doc ids;
    // Luhn mod-10 decides which are redactable card numbers vs noise —
    // per-host candidate/valid counts (a narrow codegen map + group-by)
    Q("q259_luhn_pii", (s, dir) => {
      val cc = lpad(expr(
        "CAST((doc_id * 2654435761) % 10000000000000000 AS STRING)"),
        16, "0")
      s.read.parquet(s"$dir/documents.parquet")
        .select((col("doc_id") % 97).as("host"),
          ExprBridge.column(LuhnValid(ExprBridge.expression(cc))).as("v"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_candidates"),
          sum(col("v").cast("long")).as("n_valid"))
    },
      """WITH c AS (SELECT doc_id % 97 AS host,
        |    lpad(CAST((doc_id * 2654435761) % 10000000000000000
        |      AS VARCHAR), 16, '0') AS cc
        |  FROM documents),
        |s AS (SELECT host, cc,
        |    sum(CASE WHEN i % 2 = 1 THEN
        |          CASE WHEN 2 * dig > 9 THEN 2 * dig - 9 ELSE 2 * dig END
        |        ELSE dig END) AS lsum
        |  FROM (SELECT host, cc, i, CAST(substr(cc, i, 1) AS INT) AS dig
        |        FROM c, (SELECT unnest(range(1, 17)) AS i) t)
        |  GROUP BY host, cc)
        |SELECT host, CAST(count(*) AS BIGINT) AS n_candidates,
        |  CAST(sum(CASE WHEN lsum % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_valid
        |FROM s GROUP BY host""".stripMargin),

    // frequency of frequencies: how many distinct terms occur exactly k
    // times — two keyed aggregations, the smoothing table every LM /
    // Good-Turing estimator starts from
    Q("q261_term_spectrum", (s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
        .groupBy("freq").agg(count(lit(1)).as("n_terms")),
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS w
        |           FROM documents),
        |c AS (SELECT w, count(*) AS freq FROM t GROUP BY w)
        |SELECT CAST(freq AS BIGINT) AS freq,
        |  CAST(count(*) AS BIGINT) AS n_terms
        |FROM c GROUP BY freq""".stripMargin),

    // Heaps'-law growth over BIGRAM vocabulary (unigrams saturate in the
    // first docs — bigrams keep appearing): per 10-doc corpus slice, the
    // number of bigrams first seen there and the running vocabulary size
    // (first-occurrence min per bigram, then a window over the tiny
    // ~n/10-row aggregate)
    Q("q263_vocab_growth", (s, dir) => {
      val tok = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      val bg = tok.alias("a").join(tok.alias("b"),
          expr("a.doc_id = b.doc_id AND b.pos = a.pos + 1"))
        .select(col("a.doc_id").as("doc_id"),
          concat(col("a.w"), lit(" "), col("b.w")).as("w"))
      val firsts = bg.groupBy("w").agg(min("doc_id").as("fd"))
      firsts.groupBy(expr("fd div 10").as("bucket"))
        .agg(count(lit(1)).as("new_terms"))
        .withColumn("cum_terms", sum("new_terms").over(Window
          .orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    },
      """WITH tok AS (
        |  SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS w
        |  FROM (SELECT doc_id, string_split(text, ' ') AS l
        |        FROM documents)),
        |t AS (SELECT a.doc_id, a.w || ' ' || b.w AS w
        |      FROM tok a JOIN tok b
        |        ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
        |f AS (SELECT w, min(doc_id) AS fd FROM t GROUP BY w),
        |b AS (SELECT fd // 10 AS bucket, count(*) AS new_terms
        |      FROM f GROUP BY 1)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(new_terms AS BIGINT) AS new_terms,
        |  CAST(sum(new_terms) OVER (ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_terms
        |FROM b""".stripMargin),

    // the text kernels from SQL: one statement runs the one-pass
    // multi-pattern scan AND the Luhn gate — what a safety-review
    // notebook actually types against this engine
    Q("q265_sql_text_scan", (s, dir) => {
      graft.spark.SqlFunctions.register(s)
      s.read.parquet(s"$dir/documents.parquet")
        .createOrReplaceTempView("q265_docs")
      s.sql("""
        SELECT pos, CAST(sum(c) AS BIGINT) AS n_occurrences,
          CAST(sum(CASE WHEN graft_luhn_valid(
              lpad(CAST((doc_id * 2654435761) % 10000000000000000
                   AS STRING), 16, '0')) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_luhn_valid
        FROM (
          SELECT doc_id,
            posexplode(graft_multi_pattern_counts(text,
              array('filter', 'key', 'big'))) AS (pos, c)
          FROM q265_docs)
        GROUP BY pos""")
    },
      """WITH p(pos, pattern) AS (VALUES
        |  (0, 'filter'), (1, 'key'), (2, 'big')),
        |luhn AS (SELECT doc_id,
        |    CASE WHEN (SELECT sum(CASE WHEN i % 2 = 1 THEN
        |          CASE WHEN 2 * dig > 9 THEN 2 * dig - 9 ELSE 2 * dig END
        |        ELSE dig END)
        |      FROM (SELECT i, CAST(substr(lpad(CAST(
        |          (doc_id * 2654435761) % 10000000000000000 AS VARCHAR),
        |          16, '0'), i, 1) AS INT) AS dig
        |        FROM (SELECT unnest(range(1, 17)) AS i) t)) % 10 = 0
        |    THEN 1 ELSE 0 END AS lv
        |  FROM documents),
        |occ AS (SELECT p.pos, d.doc_id,
        |    (length(d.text) - length(replace(d.text, p.pattern, '')))
        |      // length(p.pattern) AS c
        |  FROM documents d, p)
        |SELECT CAST(occ.pos AS INT) AS pos,
        |  CAST(sum(occ.c) AS BIGINT) AS n_occurrences,
        |  CAST(sum(luhn.lv) AS BIGINT) AS n_luhn_valid
        |FROM occ JOIN luhn ON luhn.doc_id = occ.doc_id
        |GROUP BY occ.pos""".stripMargin),

    // k-anonymity: quasi-identifier groups (lang, source, length bucket)
    // with group sizes and a k=5 violation flag — the re-identification
    // screen a dataset release card cites; one keyed aggregate
    Q("q268_k_anonymity", (s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .groupBy(col("lang"), col("source"),
          expr("n_chars div 100").as("len_bucket"))
        .agg(count(lit(1)).as("group_n"))
        .withColumn("violates_k5", (col("group_n") < 5).cast("int")),
      """SELECT lang, source, n_chars // 100 AS len_bucket,
        |  CAST(count(*) AS BIGINT) AS group_n,
        |  CAST(CASE WHEN count(*) < 5 THEN 1 ELSE 0 END AS INT)
        |    AS violates_k5
        |FROM documents GROUP BY 1, 2, 3""".stripMargin),

    // record linkage: candidate pairs from host blocking, agreement
    // vector on (lang, length bucket, source), Fellegi–Sunter score as
    // fixed integer log-odds (agree: +m_i, disagree: −u_i), classify at
    // the review/match thresholds — ≤ block² pairs, never corpus²
    Q("q274_record_linkage", (s, dir) => {
      val recs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), (col("doc_id") % 97).as("blk"),
          col("lang"), col("source"),
          expr("n_chars div 50").as("lb"))
      val a = recs.toDF("id_a", "blk", "lang_a", "src_a", "lb_a")
      val b = recs.toDF("id_b", "blk", "lang_b", "src_b", "lb_b")
      a.join(b, "blk").where(col("id_a") < col("id_b"))
        .withColumn("score",
          when(col("lang_a") === col("lang_b"), 24).otherwise(-8) +
          when(col("lb_a") === col("lb_b"), 30).otherwise(-6) +
          when(col("src_a") === col("src_b"), 11).otherwise(-13))
        .withColumn("cls",
          when(col("score") >= 50, "match")
            .when(col("score") >= 20, "review").otherwise("nonmatch"))
        .groupBy("blk", "cls").agg(count(lit(1)).as("n_pairs"))
    },
      """WITH r AS (SELECT doc_id, doc_id % 97 AS blk, lang, source,
        |    n_chars // 50 AS lb FROM documents),
        |p AS (SELECT a.blk,
        |    (CASE WHEN a.lang = b.lang THEN 24 ELSE -8 END)
        |    + (CASE WHEN a.lb = b.lb THEN 30 ELSE -6 END)
        |    + (CASE WHEN a.source = b.source THEN 11 ELSE -13 END)
        |      AS score
        |  FROM r a JOIN r b ON b.blk = a.blk AND a.doc_id < b.doc_id)
        |SELECT CAST(blk AS BIGINT) AS blk,
        |  CASE WHEN score >= 50 THEN 'match'
        |       WHEN score >= 20 THEN 'review' ELSE 'nonmatch' END AS cls,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        |FROM p GROUP BY 1, 2""".stripMargin),

    // reuse direction: high-containment page pairs ordered by capture
    // time — the earlier page is the source, the later the copier; the
    // per-host copy balance (out-copies − in-copies) flags aggregators.
    // Containment via shared 3-shingles over a suffix-marked corpus
    Q("q281_reuse_direction", (s, dir) => {
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
    },
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
        |GROUP BY 1, 2""".stripMargin),

    // label agreement: two deterministic quality rules over documents →
    // confusion counts and Cohen's kappa in exact micro-units
    // (kappa = (N·po − pe) / (N² − pe), all integers; the correlated
    // fixture keeps the numerator positive so div semantics never differ)
    Q("q284_cohens_kappa", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select((col("n_chars") > 300).as("a"),
          ((col("n_chars") > 280) =!= (col("doc_id") % 20 === 0)).as("b"))
      d.agg(
        count(lit(1)).as("n"),
        sum((col("a") && col("b")).cast("long")).as("n11"),
        sum((col("a") && !col("b")).cast("long")).as("n10"),
        sum((!col("a") && col("b")).cast("long")).as("n01"),
        sum((!col("a") && !col("b")).cast("long")).as("n00"))
        .withColumn("kappa_e6", expr(
          """(1000000 * (n * (n11 + n00)
            |  - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))))
            |div (n * n
            |  - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)))"""
            .stripMargin))
    },
      """WITH d AS (SELECT n_chars > 300 AS a,
        |    (n_chars > 280) <> (doc_id % 20 = 0) AS b
        |  FROM documents),
        |c AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n11,
        |    CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n10,
        |    CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n01,
        |    CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n00
        |  FROM d)
        |SELECT n, n11, n10, n01, n00,
        |  CAST((1000000 * (n * (n11 + n00)
        |      - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))))
        |    // (n * n
        |      - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)))
        |    AS BIGINT) AS kappa_e6
        |FROM c""".stripMargin),

    // constraint suite: the release-gate DQ report — each rule is one
    // aggregate / anti-join, emitted as (constraint, n_violations)
    Q("q286_dq_constraints", (s, dir) => {
      import s.implicits._
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val cust = s.read.parquet(s"$dir/customer.parquet")
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val dupKeys = orders.groupBy("o_orderkey")
        .agg(count(lit(1)).as("c")).where(col("c") > 1)
        .agg(coalesce(sum(col("c") - 1), lit(0L))).head.getLong(0)
      val orphans = orders.join(cust,
          col("o_custkey") === col("c_custkey"), "left_anti")
        .count()
      val nullLang = docs.where(col("lang").isNull).count()
      val negBal = cust.where(col("c_acctbal") < 0).count()
      val highPrio = orders.where(col("o_totalprice") <= 0).count()
      Seq(
        ("unique:orders.o_orderkey", dupKeys),
        ("fk:orders.o_custkey->customer", orphans),
        ("not_null:documents.lang", nullLang),
        ("range:customer.c_acctbal>=0", negBal),
        ("range:orders.o_totalprice>0", highPrio))
        .toDF("rule", "n_violations")
    },
      """SELECT 'unique:orders.o_orderkey' AS rule,
        |  CAST(coalesce((SELECT sum(c - 1) FROM (
        |    SELECT count(*) AS c FROM orders GROUP BY o_orderkey)
        |    WHERE c > 1), 0) AS BIGINT) AS n_violations
        |UNION ALL
        |SELECT 'fk:orders.o_custkey->customer',
        |  CAST((SELECT count(*) FROM orders WHERE o_custkey NOT IN
        |    (SELECT c_custkey FROM customer)) AS BIGINT)
        |UNION ALL
        |SELECT 'not_null:documents.lang',
        |  CAST((SELECT count(*) FROM documents WHERE lang IS NULL)
        |    AS BIGINT)
        |UNION ALL
        |SELECT 'range:customer.c_acctbal>=0',
        |  CAST((SELECT count(*) FROM customer WHERE c_acctbal < 0)
        |    AS BIGINT)
        |UNION ALL
        |SELECT 'range:orders.o_totalprice>0',
        |  CAST((SELECT count(*) FROM orders WHERE o_totalprice <= 0)
        |    AS BIGINT)""".stripMargin),

    // NFC audit: every 4th doc carries a decomposed "e + COMBINING ACUTE"
    // tail; nfc_normalize (codegen over the JDK normalizer) must compose
    // it — report affected docs and the total char shrinkage, oracle via
    // DuckDB's nfc_normalize
    Q("q288_nfc_audit", (s, dir) => {
      val txt = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          when(col("doc_id") % 4 === 0,
            concat(col("text"), lit(" caf"), lit("e\u0301")))
            .otherwise(col("text")).as("t"))
      val nfc = ExprBridge.column(NfcNormalize(
        ExprBridge.expression(col("t"))))
      txt.select((nfc =!= col("t")).cast("long").as("changed"),
          (length(col("t")) - length(nfc)).as("delta"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("changed")).as("n_changed"),
          sum(col("delta")).as("delta_chars"))
    },
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0
        |         THEN text || ' caf' || 'e' || chr(769)
        |         ELSE text END AS t
        |  FROM documents),
        |x AS (SELECT t, nfc_normalize(t) AS n FROM t)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN n <> t THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_changed,
        |  CAST(sum(length(t) - length(n)) AS BIGINT) AS delta_chars
        |FROM x""".stripMargin),

    // autocomplete table: for each context token with ≥ 30 continuations,
    // the top-3 next tokens by count — context is a mega-group at crawl
    // scale, so ranking is the salted two-phase top-k (per-salt prefilter
    // before the per-context window)
    Q("q297_next_token_topk", (s, dir) => {
      val tok = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      val bg = tok.alias("a").join(tok.alias("b"),
          expr("a.doc_id = b.doc_id AND b.pos = a.pos + 1"))
        .select(col("a.w").as("ctx"), col("b.w").as("nxt"))
        .groupBy("ctx", "nxt").agg(count(lit(1)).as("n"))
      val tot = bg.groupBy("ctx").agg(sum("n").as("ctx_n"))
        .where(col("ctx_n") >= 30)
      val order = Seq(col("n").desc, col("nxt").asc)
      bg.join(tot, "ctx")
        .withColumn("__salt", pmod(hash(col("nxt")), lit(8)))
        .withColumn("__pr", row_number().over(
          Window.partitionBy("ctx", "__salt").orderBy(order: _*)))
        .where(col("__pr") <= 3)
        .withColumn("rank", row_number().over(
          Window.partitionBy("ctx").orderBy(order: _*)).cast("int"))
        .where(col("rank") <= 3)
        .select(col("ctx"), col("nxt"), col("n"), col("rank"))
    },
      """WITH tok AS (
        |  SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS w
        |  FROM (SELECT doc_id, string_split(text, ' ') AS l
        |        FROM documents)),
        |bg AS (SELECT a.w AS ctx, b.w AS nxt, count(*) AS n
        |  FROM tok a JOIN tok b
        |    ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |  GROUP BY 1, 2),
        |tot AS (SELECT ctx, sum(n) AS ctx_n FROM bg GROUP BY ctx
        |        HAVING sum(n) >= 30),
        |r AS (SELECT bg.ctx, nxt, n,
        |    row_number() OVER (PARTITION BY bg.ctx
        |      ORDER BY n DESC, nxt) AS rank
        |  FROM bg JOIN tot ON tot.ctx = bg.ctx)
        |SELECT ctx, nxt, CAST(n AS BIGINT) AS n, CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 3""".stripMargin)
  )
}
