package graft.text

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators beyond pair-level dedup: paragraph-level
  * dedup, benchmark decontamination, sequence packing, URL canonicalization,
  * and repetition-based quality signals (the C4/Gopher/CCNet-style cleaning
  * steps a pretraining corpus actually goes through).
  *
  * Scale design notes per operator are on each method; the shared rules:
  * document text never rides a shuffle (only hashes/ids/integers move), all
  * per-doc work is codegen'd column expressions (no Python, no RDDs), and
  * every ratio is derived from integer counts so results are bit-identical
  * across engines and cluster sizes.
  */
object PipelineOps {

  // ------------------------------------------------------- paragraph dedup

  /** Paragraph-level exact dedup (the "remove boilerplate repeated across
    * pages" pass): split each doc on `sepRegex`, hash each paragraph, and
    * keep only the globally-first occurrence of each distinct paragraph —
    * "first" = min (doc id, paragraph index), deterministic under any
    * partitioning.
    *
    * Returns one row per paragraph: (id, idx, ph, keep).
    *
    * Scale: the only shuffle is the groupBy on the 128-bit paragraph hash,
    * carrying (ph, id, idx) — paragraph TEXT is hashed map-side and never
    * moves. Output joins back on ph with the same key, so AQE coalesces the
    * two exchanges into one stage. At 10^12 paragraphs this is the same
    * plan shape as exact doc dedup (TextOps.exactDedupGroups). */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     sepRegex: String = "\n\n"): DataFrame = {
    val paras = df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), sepRegex)).as(Seq("idx", "para")))
      .select(col("id"), col("idx"), md5(col("para")).as("ph"))
    val reps = paras.groupBy("ph")
      .agg(min(struct(col("id"), col("idx"))).as("__rep"))
    paras.join(reps, "ph")
      .withColumn("keep", struct(col("id"), col("idx")) === col("__rep"))
      .select("id", "idx", "ph", "keep")
  }

  /** Per-doc paragraph-dedup stats: (id, n_paras, n_kept). */
  def paragraphDedupStats(df: DataFrame, idCol: String, textCol: String,
                          sepRegex: String = "\n\n"): DataFrame =
    paragraphDedup(df, idCol, textCol, sepRegex)
      .groupBy("id")
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))

  /** Reconstruct each doc's text with dropped paragraphs removed (empty
    * string when every paragraph was a repeat).
    *
    * Scale: exploded paragraph text NEVER crosses an exchange. The keep
    * decisions aggregate per doc into an int array (ids/hashes/ints only
    * in both shuffles), that one-row-per-doc array joins back to the
    * corpus on id, and the split/filter/rejoin runs doc-locally in one
    * narrow projection. The only exchange that sees text is the final
    * id-join moving each doc's text intact, once — at 100 TB that is the
    * floor for co-locating a per-doc decision with the doc. */
  def dedupParagraphText(df: DataFrame, idCol: String, textCol: String,
                         sepRegex: String = "\n\n", sep: String = "\n\n"): DataFrame = {
    // (id, sorted kept idx[]) — one row per doc. collect_list skips the
    // nulls from `when`, so an all-repeats doc yields an empty array (and
    // split("") = [""] guarantees every doc has at least one paragraph
    // row, so no doc drops out of the groupBy).
    val keptIdx = paragraphDedup(df, idCol, textCol, sepRegex)
      .groupBy("id")
      .agg(array_sort(collect_list(when(col("keep"), col("idx")))).as("__kept"))
    // one-pass UDF, not filter(split(...), array_contains(__kept, i)):
    // the HOF form is O(P²) per doc (a full __kept scan per paragraph) and
    // Catalyst's project collapsing re-inlines the shared split() into the
    // lambda (the measured q62/q63 pathology); __kept is sorted, so a
    // single split + index walk is O(P) and still doc-local
    val rebuild = udf((text: String, kept: Seq[Int]) =>
      if (text == null) null
      else {
        val paras = text.split(sepRegex, -1)
        kept.iterator.map(paras(_)).mkString(sep)
      })
    df.select(col(idCol).as("id"), col(textCol).as("__text"))
      .join(keptIdx, Seq("id"))
      .select(col("id"), rebuild(col("__text"), col("__kept")).as("text"))
  }

  // -------------------------------------------------------- decontamination

  /** Benchmark decontamination: flag every document sharing at least one
    * word n-gram with the benchmark set (the standard "n-gram collision"
    * test-set-leakage check). `benchmark` carries one distinct n-gram per
    * row in column `ngram`.
    *
    * Returns (id, n_hits = distinct benchmark n-grams present, contaminated).
    *
    * Scale: the benchmark side is a dimension (thousands of eval documents)
    * and is explicitly broadcast — the corpus side explodes its distinct
    * n-grams map-side and the join is shuffle-free; the per-doc count is a
    * partial-aggregated groupBy on (id). The corpus text itself never
    * shuffles. */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    benchmark: DataFrame, n: Int): DataFrame = {
    val grams = docs.select(col(idCol).as("id"),
      explode(TextOps.shingleUdf(n)(col(textCol))).as("g"))
    val hits = grams
      .join(broadcast(benchmark.select(col("ngram").as("g")).distinct()), "g")
      .groupBy("id").agg(count(lit(1)).as("__h"))
    docs.select(col(idCol).as("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id"), coalesce(col("__h"), lit(0L)).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** Bloom-prefiltered decontamination — EXACT output (same contract as
    * `decontaminate`), built for the regime where the benchmark n-gram set
    * is too large to broadcast as an exact in-memory set but its Bloom
    * sketch (~1.2 bytes/item·ln(1/fpp)/ln²2) still fits every executor:
    *
    *   1. one pass over the benchmark builds a Bloom filter of its distinct
    *      n-grams (`DataFrameStatFunctions.bloomFilter` — a distributed
    *      aggregate, no driver-side set);
    *   2. the corpus filters its shingles through the broadcast sketch
    *      MAP-SIDE — docs with zero candidate grams (the overwhelming
    *      majority at crawl scale) never emit a single join row;
    *   3. surviving (id, gram) candidates — true hits plus an fpp-bounded
    *      trickle of false positives — verify EXACTLY against the benchmark
    *      in a shuffle join whose left side is already tiny.
    *
    * Bloom filters have no false negatives, and step 3 kills the false
    * positives, so the output equals `decontaminate`'s for ANY fpp
    * (DecontaminateBloomSpec asserts parity at fpp = 0.5). */
  def decontaminateBloom(docs: DataFrame, idCol: String, textCol: String,
                         benchmark: DataFrame, n: Int,
                         fpp: Double = 0.001): DataFrame = {
    val bench = benchmark.select(col("ngram").as("g")).distinct()
      .transform(graft.spark.PersistTracker.persist) // bloom build + verify join
    val bf = bench.stat.bloomFilter("g", math.max(bench.count(), 1L), fpp)
    val bfB = docs.sparkSession.sparkContext.broadcast(bf)
    val candGrams = udf((shingles: Seq[String]) =>
      shingles.filter(bfB.value.mightContainString))
    val grams = docs
      .select(col(idCol).as("id"),
        candGrams(TextOps.shingleUdf(n)(col(textCol))).as("__cands"))
      .where(size(col("__cands")) > 0)
      .select(col("id"), explode(col("__cands")).as("g"))
    val hits = grams.join(bench, "g").groupBy("id").agg(count(lit(1)).as("__h"))
    docs.select(col(idCol).as("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id"), coalesce(col("__h"), lit(0L)).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** Narrow EXACT decontamination: the eval-gram (h1, h2) identities are
    * collected once (guarded), packed into a sorted-array PairSet
    * (~16 B/gram — a 10M-gram eval suite is 160 MB, broadcast-sized), and
    * every document counts its matching distinct span grams in ONE
    * doc-local probe. Output-identical to `decontaminate`
    * (DecontaminateSetSpec), but the plan is a
    * single narrow projection: no gram explosion (the join formulation
    * pushes ~n_tokens rows per doc through a broadcast join — ~10⁹ rows
    * at 2M pages — then aggregates them back), no shuffle, no second
    * corpus scan. This is the 100 TB shape: eval suites are fixed and
    * small relative to the corpus; `decontaminateBloom` remains the
    * too-big-to-materialize fallback. */
  def decontaminateSet(docs: DataFrame, idCol: String, textCol: String,
                       benchmark: DataFrame, n: Int,
                       maxGrams: Int = 10000000): DataFrame =
    decontaminateSetWith(docs, idCol, textCol,
      buildEvalSet(benchmark, n, maxGrams), n)

  /** The probe against a PREBUILT eval set — a long-lived pipeline builds
    * the set once per eval-suite version and reuses it across batches. */
  def decontaminateSetWith(docs: DataFrame, idCol: String, textCol: String,
                           evalSet: TextHash.PairSet, n: Int): DataFrame = {
    val hitUdf = spanHitUdf(evalSet, n)
    docs.select(col(idCol).as("id"), hitUdf(col(textCol)).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** Guarded collect of the eval-gram identities into a sorted PairSet. */
  def buildEvalSet(benchmark: DataFrame, n: Int,
                   maxGrams: Int = 10000000): TextHash.PairSet = {
    val pairUdf = udf((g: String) => {
      val p = TextHash.ngramHashPair(g); (p(0), p(1))
    })
    val pairs = benchmark.select(pairUdf(col("ngram")).as("hp")).distinct()
      .limit(maxGrams + 1).collect()
      .map { r => val s = r.getStruct(0); Array(s.getLong(0), s.getLong(1)) }
    require(pairs.length <= maxGrams,
      s"eval set exceeds $maxGrams grams — use decontaminateBloom for " +
        "benchmark sets too large to materialize on the driver")
    TextHash.PairSet(pairs)
  }

  private def spanHitUdf(set: TextHash.PairSet, n: Int) =
    udf((text: String) =>
      if (text == null) 0L else TextHash.spanHitCount(text, n, set))

  /** Narrow decontamination variant for streams and small benchmark sets:
    * the n-gram set rides the closure as a literal array and the check is
    * one `arrays_overlap` per row — zero shuffle, zero aggregation, so it
    * runs unchanged in append-mode Structured Streaming (the broadcast-join
    * variant's per-doc hit COUNT needs an aggregation and thus
    * update/complete mode). Use `decontaminate` when the benchmark is too
    * big for a closure literal or exact hit counts are needed. */
  def decontaminateNarrow(docs: DataFrame, idCol: String, textCol: String,
                          benchmark: Seq[String], n: Int): DataFrame =
    docs.withColumn("contaminated",
      arrays_overlap(TextOps.shingleUdf(n)(col(textCol)),
        typedLit(benchmark.distinct)))

  // ------------------------------------------------------- sequence packing

  /** GPT-style sequence packing: concatenate documents in `idCol` order and
    * chop the token stream into fixed `seqLen`-token training sequences
    * (documents may span a boundary). Adds per-doc columns
    * (tok_start, seq_first, seq_last, n_seqs) — all exact integer math.
    *
    * Scale: packing is inherently a prefix sum over an order. Global order
    * (shardCol = None) needs a range exchange + running sum — correct for
    * one shard's worth of data. At 100 TB, pass a `shardCol`: packing then
    * runs independently per shard (the real pipelines pack per input shard
    * anyway), the window is partition-local, and no global sort exists in
    * the plan. */
  def packSequences(df: DataFrame, idCol: String, tokCol: String,
                    seqLen: Int, shardCol: Option[String] = None): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive (got $seqLen)")
    val base = shardCol.map(Window.partitionBy(_)).getOrElse(Window.partitionBy())
    val w = base.orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("tok_start",
        coalesce(sum(col(tokCol).cast("long")).over(w), lit(0L)))
      .withColumn("seq_first", expr(s"tok_start div $seqLen"))
      // zero-token rows emit nothing: seq_last = seq_first and n_seqs = 0
      // (the unguarded (tok_start - 1) div seqLen is off by one whenever
      // tok_start is a later multiple of seqLen)
      .withColumn("seq_last",
        when(col(tokCol) === 0, expr(s"tok_start div $seqLen"))
          .otherwise(expr(s"(tok_start + ${tokCol} - 1) div $seqLen")))
      .withColumn("n_seqs",
        when(col(tokCol) === 0, lit(0L))
          .otherwise(col("seq_last") - col("seq_first") + 1))
  }

  // ---------------------------------------------------- URL canonicalization

  /** Canonicalize a URL for dedup (the CCNet/C4-style normalization):
    * lowercase scheme+host, strip a default :80/:443 port, drop the
    * fragment, drop tracking parameters (utm_*, ref) keeping the rest in
    * order, and clean dangling '?'/'&'. Pure codegen'd string expressions —
    * no UDF, no shuffle; patterns restricted to RE2-compatible syntax so
    * external engines normalize identically. */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*", "")
    val shRaw = regexp_extract(noFrag, "^([a-zA-Z]+://[^/]*)", 1)
    val sh = regexp_replace(lower(shRaw), ":(80|443)$", "")
    val rest = noFrag.substr(length(shRaw) + 1, lit(1000000))
    // strip tracking params with the name anchored at a parameter BOUNDARY
    // (a bare '(utm_x|ref)=' would also fire inside href=/xref=/pref=).
    // Backreference replacement syntax differs between Java ($1) and RE2
    // (\1), so stay capture-free: normalize the leading '?' to '&', strip
    // '&name=value' whole-param matches, then restore '?' on what remains.
    val path = regexp_extract(rest, "^[^?]*", 0)
    val query = rest.substr(length(path) + 1, lit(1000000)) // "?a=1&…" or ""
    val qNorm = when(length(query) > 0,
      concat(lit("&"), query.substr(lit(2), lit(1000000)))).otherwise(lit(""))
    val qClean = regexp_replace(qNorm, "&(utm_[a-z]+|ref)=[^&]*", "")
    concat(sh, path,
      when(length(qClean) > 1,
        concat(lit("?"), qClean.substr(lit(2), lit(1000000)))).otherwise(lit("")))
  }

  /** Registered-domain extraction (host minus a leading www.). */
  def urlDomain(url: Column): Column =
    regexp_replace(
      lower(regexp_extract(url, "^[a-zA-Z]+://([^/:]*)", 1)), "^www\\.", "")

  // -------------------------------------------------- training-order shuffle

  /** Deterministic training-order shuffle: give every document a stable
    * pseudo-random training position — (shard, pos) — as a pure function
    * of (id, seed). Key = md5(id ":" seed) (engine-independent,
    * avalanche-uniform); shard = the key's first three hex nibbles mod
    * `numShards`; pos = the key's rank within its shard.
    *
    * Scale: the key is a narrow codegen'd map and the ONLY exchange is the
    * hash partition on `shard`; the in-shard rank's window partition key
    * IS the exchange key, so the sort stays partition-local — the plan is
    * exactly "repartition + sortWithinPartitions + one file per shard",
    * the 100 TB training-order materialization. Shards balance by key
    * uniformity (±O(√(n/S))); the layout is repartition-invariant
    * (spec-asserted), any shard can be re-derived from ids alone (resume),
    * and a new epoch is a new seed, not a new plan. */
  def trainingShuffle(df: DataFrame, idCol: String, numShards: Int,
                      seed: String): DataFrame = {
    val keyed = df.select(col(idCol).as("id"),
      md5(concat(col(idCol).cast("string"), lit(":"), lit(seed))).as("k"))
    // hex-nibble parse via instr over a literal alphabet — the one spelling
    // of hex→int that Spark SQL and DuckDB share (conv/from_hex don't)
    val shard = expr(
      s"""CAST(((instr('0123456789abcdef', substring(k, 1, 1)) - 1) * 256 +
         |      (instr('0123456789abcdef', substring(k, 2, 1)) - 1) * 16 +
         |      (instr('0123456789abcdef', substring(k, 3, 1)) - 1)) % $numShards
         |     AS INT)""".stripMargin)
    keyed.withColumn("shard", shard)
      .withColumn("pos", row_number().over(
        Window.partitionBy("shard").orderBy("k", "id")))
      .select(col("id"), col("shard"), col("pos"))
  }

  // ---------------------------------------------------------- domain cap

  /** Per-domain document cap (crawl-diversity control): keep at most `k`
    * documents per domain, best-first by (`rankCol` DESC, id ASC), and
    * return the kept rows with their exact in-domain rank.
    *
    * Scale: one window over domains would put every page of a mega-domain
    * (10⁸ pages of a single host in a crawl) into one task. Phase 1 takes
    * the top-k per (domain, salt) — id-derived salt, deterministic —
    * bounding every domain to salts·k rows; phase 2 ranks those survivors
    * exactly. Correct because each true top-k row is top-k within its own
    * salt (monotone prune). Both windows' partition keys are their
    * exchange keys (partition-local sorts), and rows carry only
    * (id, domain, rank value) — never text. */
  def capPerDomain(df: DataFrame, idCol: String, domainCol: String,
                   rankCol: String, k: Int, salts: Int = 16): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(domainCol).as("domain"),
      col(rankCol).as("__r"))
    val order = Seq(col("__r").desc, col("id").asc)
    val pruned = base
      .withColumn("__salt", pmod(col("id"), lit(salts)))
      .withColumn("__pr", row_number().over(
        Window.partitionBy("domain", "__salt").orderBy(order: _*)))
      .where(col("__pr") <= k)
    pruned
      .withColumn("domain_rank", row_number().over(
        Window.partitionBy("domain").orderBy(order: _*)))
      .where(col("domain_rank") <= k)
      .select(col("id"), col("domain"), col("domain_rank"))
  }

  // --------------------------------------------------- mixture upsampling

  /** Deterministic mixture upsampling (the data-recipe side of training:
    * upweight chosen strata by a fractional factor): `milli` is the
    * per-row weight in milli-copies (2500 = 2.5×); every row emits
    * `milli div 1000` whole copies plus one more iff its id's
    * multiplicative hash lands under the fractional part — the same
    * repartition-invariant integer arithmetic as deterministicSample
    * (q65), so the realized copy count per stratum is exact-in-
    * expectation and reproducible to the row.
    *
    * Scale: narrow — weight arithmetic and the copy explode are per-row;
    * no shuffle, no RNG state. Expected output ≤ max-weight × input. */
  def upsampleMixture(df: DataFrame, idCol: String, milli: Column): DataFrame =
    df.withColumn("__m", milli.cast("long"))
      .withColumn("copies", expr(
        s"CAST(__m div 1000 AS INT) + " +
        s"(CASE WHEN pmod($idCol * 131 + 7, 1000) < __m % 1000 THEN 1 ELSE 0 END)"))
      .where(col("copies") > 0)
      .select(col(idCol).as("id"), col("copies"),
        explode(sequence(lit(0), col("copies") - 1)).as("copy_id"))

  // ------------------------------------------------- linear quality model

  /** Apply a pretrained fastText-style linear quality classifier: each
    * token hashes into a feature id whose integer weight comes from the
    * model table, the document score is the weight sum, keep = score > 0.
    * The "model" here is the closed-form weight w(t) = (md5₁₂(t) mod 2001)
    * − 1000 — a deterministic stand-in with the exact shape of a trained
    * hashed-feature model (the oracle recomputes it per token), chosen so
    * scores are integers and every aggregate is an exact order-independent
    * integer sum (the q79 micro-nat discipline).
    *
    * Scale: one narrow codegen'd projection — split once, transform to
    * per-token weights, aggregate in-row; no exchange, no UDF, no
    * explode. A real model swaps the weight expression for a broadcast
    * map lookup; the plan shape is unchanged. */
  def linearQualityScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val weight = (t: Column) =>
      conv(substring(md5(t), 1, 3), 16, 10).cast("long") % 2001L - 1000L
    val toks = split(col(textCol), " ")
    df.select(col(idCol).as("id"),
        size(toks).cast("long").as("n_tokens"),
        aggregate(transform(toks, weight), lit(0L), (acc, w) => acc + w)
          .as("score"))
      .withColumn("keep", (col("score") > 0).cast("int"))
  }

  // ------------------------------------------------------ domain link graph

  /** Build the domain-level link graph from page markup: every
    * `href="…"` anchor is an edge from the page's own domain to the
    * target's domain; edges aggregate to (src_domain, dst_domain,
    * n_links, n_pages) — the crawl-frontier / authority-signal table.
    *
    * Scale: anchor extraction is a narrow codegen regexp over each page
    * (`regexp_extract_all`, no UDF); the only exchange is the keyed edge
    * aggregate, which partial-aggregates map-side — a mega-domain fans in
    * as pre-combined (src, dst) partial counts, never raw anchors. */
  def domainLinkGraph(df: DataFrame, idCol: String, urlCol: String,
                      htmlCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        urlDomain(col(urlCol)).as("src_domain"),
        explode(regexp_extract_all(col(htmlCol), lit("href=\"([^\"]+)\""), lit(1)))
          .as("href"))
      .select(col("id"), col("src_domain"), urlDomain(col("href")).as("dst_domain"))
      .groupBy("src_domain", "dst_domain")
      .agg(count(lit(1)).as("n_links"),
        count_distinct(col("id")).as("n_pages"))

  /** Incoming-anchor-text index: for every target domain, how pages across
    * the corpus LABEL it — the classic web-scale relevance/quality feature
    * (anchor text is the one description of a page its author didn't
    * write). Extracts `<a href="…">text</a>` pairs with codegen'd regexps
    * (whole-anchor `regexp_extract_all` + per-field `regexp_extract`, no
    * UDF; nested markup inside an anchor is out of scope — the common
    * plain-text anchor is the 100 TB hot path), aggregates
    * (n_links, n_pages) per (dst_domain, anchor_text).
    *
    * Scale: one narrow extract pass, then ONE exchange keyed on
    * (dst_domain, anchor_text) carrying only short anchor strings —
    * page html/text never shuffles. */
  def anchorTextIndex(df: DataFrame, idCol: String, htmlCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        explode(regexp_extract_all(col(htmlCol),
          lit("(?s)<a\\s[^>]*href=\"[^\"]*\"[^>]*>[^<]*</a>"), lit(0)))
          .as("__a"))
      .select(col("id"),
        urlDomain(regexp_extract(col("__a"), "href=\"([^\"]*)\"", 1))
          .as("dst_domain"),
        regexp_extract(col("__a"), ">([^<]*)</a>", 1).as("anchor_text"))
      .groupBy("dst_domain", "anchor_text")
      .agg(count(lit(1)).as("n_links"),
        count_distinct(col("id")).as("n_pages"))

  // ------------------------------------------------------- token chunking

  /** Overlapping fixed-size training windows per document: chunk c covers
    * tokens [c·stride, c·stride + min(chunkSize, n − c·stride)), for
    * c = 0 .. (n−1) div stride — every token is covered, consecutive
    * chunks overlap by (chunkSize − stride) tokens (the standard LM
    * context-window slicing; `packSequences` is the no-overlap packing
    * twin). Pure integer math on the whitespace token count — exact in
    * any engine, no text leaves the row.
    *
    * Scale: narrow map + explode, zero shuffle; output rows carry only
    * ids and offsets, so the downstream gather (slice the text by offsets
    * at materialization time) stays doc-local. */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"need 0 < stride <= chunkSize, got chunkSize=$chunkSize stride=$stride")
    df.select(col(idCol).as("id"),
        size(split(col(textCol), " ")).cast("long").as("n_tokens"))
      .withColumn("chunk_id",
        explode(expr(s"sequence(0L, (n_tokens - 1) div $stride)")))
      .select(col("id"), col("chunk_id"),
        (col("chunk_id") * stride).as("tok_start"),
        least(lit(chunkSize.toLong),
          col("n_tokens") - col("chunk_id") * stride).as("tok_len"),
        col("n_tokens"))
  }

  // ------------------------------------------------------ vocabulary top-k

  /** Corpus vocabulary: the k most frequent tokens per language, ranked by
    * (count DESC, token ASC) — the vocabulary-building step of a tokenizer
    * pipeline, and the capPerDomain idea applied to a string key.
    *
    * Scale: tokenize → partial-aggregated (lang, token) counts (map-side
    * combine eats the token zipf head before the exchange), then the
    * skew-safe two-phase top-k: per-(lang, salt) prune bounds any language
    * — a language IS a mega-group; 'en' holds most of a real crawl — to
    * salts·k candidate rows before the exact per-language rank. The salt
    * hashes the token, which only PARTITIONS the candidate set (any
    * partition's per-salt top-k is a superset of its global-top-k
    * members), so the result is engine- and partitioning-independent. */
  def vocabTopK(df: DataFrame, langCol: String, textCol: String,
                k: Int, salts: Int = 16): DataFrame = {
    val counts = df
      .select(col(langCol).as("lang"),
        explode(split(col(textCol), " ")).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("n"))
    val order = Seq(col("n").desc, col("w").asc)
    counts
      .withColumn("__salt", pmod(hash(col("w")), lit(salts)))
      .withColumn("__pr", row_number().over(
        Window.partitionBy("lang", "__salt").orderBy(order: _*)))
      .where(col("__pr") <= k)
      .withColumn("rank", row_number().over(
        Window.partitionBy("lang").orderBy(order: _*)))
      .where(col("rank") <= k)
      .select(col("lang"), col("w"), col("n"), col("rank"))
  }

  // ---------------------------------------------------------- bigram PMI

  /** Corpus-level bigram association mining: pointwise mutual information
    * PMI(w1,w2) = ln( p(w1,w2) / (p(w1)·p(w2)) ) for every adjacent token
    * pair occurring at least `minCount` times — the collocation/phrase
    * detection step of a tokenizer or phrase-vocab pipeline (Mikolov-style
    * phrase merging uses exactly this score). Reported in integer
    * micro-nats (the q79 LM trick): both engines evaluate the IDENTICAL
    * double expression — exact-integer numerator and denominator (each
    * < 2^53, so exactly representable) in ONE division, one `ln`, one
    * round — which is what makes a floating-point statistic bit-exact
    * across engines.
    *
    * Scale: tokens localCheckpoint once (three consumers: bigram counts,
    * unigram counts, the N scalar); bigrams come from `lead` over the
    * (id, pos) window — one exchange on id carrying (id, pos, token);
    * counts partial-aggregate map-side; unigram side broadcasts twice
    * onto the minCount-filtered bigram table. At real scale N/B are
    * corpus manifest stats and the tokenize pass is shared with the
    * vocab/LM jobs. */
  def bigramPmi(df: DataFrame, idCol: String, textCol: String,
                minCount: Int): DataFrame = {
    val tok = df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "w")))
      .localCheckpoint(true)
    val bg = tok
      .withColumn("w2",
        lead(col("w"), 1).over(Window.partitionBy("id").orderBy("pos")))
      .where(col("w2").isNotNull)
      .select(col("w").as("w1"), col("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val uni = tok.groupBy("w").agg(count(lit(1)).as("cu"))
    val n = tok.agg(count(lit(1))).head().getLong(0)
    val b = bg.agg(sum(col("c"))).head().getLong(0)
    bg.where(col("c") >= minCount)
      .join(broadcast(uni.select(col("w").as("w1"), col("cu").as("c1"))), "w1")
      .join(broadcast(uni.select(col("w").as("w2"), col("cu").as("c2"))), "w2")
      .select(col("w1"), col("w2"), col("c"),
        round(log((col("c") * n * n) /
          (lit(b) * col("c1") * col("c2") * lit(1.0))) * 1e6, 0)
          .cast("long").as("pmi_micro"))
  }

  // -------------------------------------------------------- recrawl delta

  /** Recrawl ingest classification: label every page of a fresh crawl
    * batch against the previously committed corpus — `new` (url id never
    * seen), `changed` (seen, content hash differs), `unchanged` (seen,
    * byte-identical text — the overwhelming majority of a recrawl, which
    * an incremental pipeline drops before any downstream work).
    *
    * Scale: the previous corpus collapses to (id, md5) BEFORE the join,
    * so the exchange carries 48-byte rows — at 10^12 docs the hash side
    * is ~50 TB→ sort-merge on id, while batch text stays in its scan
    * partitions (callers commit survivors straight from the scan). */
  def recrawlDelta(batch: DataFrame, idCol: String, textCol: String,
                   prev: DataFrame, prevIdCol: String,
                   prevTextCol: String): DataFrame = {
    val old = prev.select(col(prevIdCol).as("id"),
      md5(col(prevTextCol)).as("__old_hash"))
    batch.select(col(idCol).as("id"), md5(col(textCol)).as("text_hash"))
      .join(old, Seq("id"), "left")
      .select(col("id"), col("text_hash"),
        when(col("__old_hash").isNull, "new")
          .when(col("__old_hash") =!= col("text_hash"), "changed")
          .otherwise("unchanged").as("op"))
  }

  // ---------------------------------------------------------- PII redaction

  /** RE2-compatible PII patterns (no lookarounds — identical semantics in
    * Java regex and RE2-based engines). Deliberately simple canonical
    * forms; real deployments extend the list, the plan shape is the point. */
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
  val Ipv4Re = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** PII scrub: count and redact emails / phone numbers / IPv4 addresses.
    * Adds (n_emails, n_phones, n_ips, redacted), renames `idCol` to `id`,
    * drops the raw text, and PRESERVES any other input columns (so it
    * composes with upstream gates in one narrow map). Counts are taken
    * BEFORE redaction; replacements run email → phone → ip (disjoint
    * patterns, so order only matters for nested text).
    *
    * Scale: a narrow codegen'd map — regexp count + replace per row, no
    * UDF, no shuffle, no aggregation — runs unchanged in append-mode
    * streams (CleanStreamSpec). */
  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumnRenamed(idCol, "id")
      .withColumn("n_emails",
        size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0))).cast("long"))
      .withColumn("n_phones",
        size(regexp_extract_all(col(textCol), lit(PhoneRe), lit(0))).cast("long"))
      .withColumn("n_ips",
        size(regexp_extract_all(col(textCol), lit(Ipv4Re), lit(0))).cast("long"))
      .withColumn("redacted",
        regexp_replace(
          regexp_replace(
            regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
            PhoneRe, "<PHONE>"),
          Ipv4Re, "<IP>"))
      .drop(textCol)

  // ----------------------------------------------------- data-mix sampling

  /** Deterministic stratified sampling for data-mixture construction: a doc
    * is selected iff `(id·131 + 7) mod 100 < rate` where `rate` is the
    * stratum's percentage (0-100). Pure integer arithmetic on the id —
    * reproducible across engines, partitionings, and cluster sizes (the
    * property random() samplers lack), and cheap enough to ride any scan.
    * The multiplier decorrelates the selection from id-sequential layouts;
    * ids up to ~7·10^16 stay clear of Long overflow. */
  def deterministicSample(df: DataFrame, idCol: String, rateCol: Column): DataFrame =
    df.withColumn("sampled",
      (col(idCol) * 131L + 7L) % 100L < rateCol)

  // --------------------------------------------------- composite clean pass

  /** End-to-end C4-style corpus cleaning with first-fail attribution: each
    * document is labeled with the FIRST stage that rejects it (sequential
    * semantics — later stages only see survivors), or `6_kept`:
    *
    *   1_lang          language-ID != keepLang
    *   2_quality       composite quality score < minQuality
    *   3_repetition    duplicate-bigram fraction > maxDupFrac
    *   4_exact_dup     not the min-id representative of its exact-text
    *                   group AMONG stage-3 survivors
    *   5_contaminated  shares an n-gram with the benchmark set
    *
    * Returns one row per doc: (id, stage). `stage` prefixes order
    * lexicographically so audits sort correctly.
    *
    * Scale: stages 1-3 are narrow codegen'd maps over the text column; the
    * dedup stage shuffles only (md5, id); decontamination broadcasts the
    * benchmark. One wide exchange total (the dedup groupBy) — the audit
    * aggregation downstream is counts over a string key. */
  def cleanCorpusStages(docs: DataFrame, idCol: String, textCol: String,
                        benchmark: DataFrame,
                        langProfiles: Seq[(String, Seq[String])],
                        stopwords: Seq[String],
                        keepLang: String, minQuality: Double,
                        maxDupFrac: Double, n: Int): DataFrame =
    cleanCorpusStagesWith(docs, idCol, textCol, buildEvalSet(benchmark, n),
      langProfiles, stopwords, keepLang, minQuality, maxDupFrac, n)

  /** The clean pass against a PREBUILT eval set (see
    * `decontaminateSetWith` — eval suites are versioned artifacts built
    * once, not per batch). */
  def cleanCorpusStagesWith(docs: DataFrame, idCol: String, textCol: String,
                            evalSet: TextHash.PairSet,
                            langProfiles: Seq[(String, Seq[String])],
                            stopwords: Seq[String],
                            keepLang: String, minQuality: Double,
                            maxDupFrac: Double, n: Int): DataFrame = {
    // ONE narrow projection computes every per-doc gate (lang, quality,
    // repetition, content hash, decontamination probe) and drops the
    // text — the persisted flag table is ~50 bytes/row and every
    // downstream branch (survivor reps, dedup join, final labeling)
    // reuses it instead of re-running the expression stack per join
    // branch (a naive formulation re-scans the corpus 20+ times; this
    // one scans ONCE — the decontamination leg was folded from a second
    // scan + gram-explosion broadcast join into the doc-local PairSet
    // probe after a round-6 leg-by-leg timing of the clean pass at 4 and
    // 16 cores found that leg to be its non-scaling Amdahl section)
    val text = col(textCol)
    // localCheckpoint, not persist(): building the in-memory CACHE of this
    // projection evaluates the expression stack on the cache writer's
    // non-codegen path (measured 20× slower than plain evaluation);
    // localCheckpoint materializes through the normal codegen path once
    // and every downstream branch reads the stored rows (same discipline
    // as Knn / connectedComponents). At real scale the durable
    // materialization point is a committed snapshot stage (Resumable).
    val flags = cleanFlagsUdf(langProfiles, stopwords, keepLang,
      minQuality, maxDupFrac)(text)
    // the UDF struct is kept WHOLE until the checkpoint boundary: field
    // projections before materialization would invite project-collapse to
    // re-inline the UDF once per referenced field (the q62/langId
    // pathology); after the checkpoint, getField reads stored bytes
    val hitUdf = spanHitUdf(evalSet, n)
    val flagged = docs.select(col(idCol).as("id"),
        flags.as("__f"), md5(text).as("__th"),
        (hitUdf(text) === 0L).as("__decon_ok"))
      .localCheckpoint(true)
      .select(col("id"),
        col("__f._1").as("__lang_ok"),
        col("__f._2").as("__quality_ok"),
        col("__f._3").as("__rep_ok"),
        col("__th"), col("__decon_ok"))
    // exact-dup decision in ONE exchange: min-survivor-id over the
    // content-hash window (the groupBy + sort-merge-join formulation
    // shuffles every row twice and sorts both join sides; the window
    // shuffles once on the same key). A doc with a null __rep_id failed
    // an earlier gate itself, so the label cascade never reads it.
    val withDedup = flagged
      .withColumn("__rep_id",
        min(when(col("__lang_ok") && col("__quality_ok") && col("__rep_ok"),
          col("id"))).over(Window.partitionBy("__th")))
      .withColumn("__dedup_ok", col("id") === col("__rep_id"))
    withDedup
      .select(col("id"),
        when(!col("__lang_ok"), "1_lang")
          .when(!col("__quality_ok"), "2_quality")
          .when(!col("__rep_ok"), "3_repetition")
          .when(!col("__dedup_ok"), "4_exact_dup")
          .when(!col("__decon_ok"), "5_contaminated")
          .otherwise("6_kept").as("stage"))
  }

  /** Audit table for `cleanCorpusStages`: (stage, n_docs). */
  def cleanCorpusAudit(docs: DataFrame, idCol: String, textCol: String,
                       benchmark: DataFrame,
                       langProfiles: Seq[(String, Seq[String])],
                       stopwords: Seq[String],
                       keepLang: String, minQuality: Double,
                       maxDupFrac: Double, n: Int): DataFrame =
    cleanCorpusStages(docs, idCol, textCol, benchmark, langProfiles,
      stopwords, keepLang, minQuality, maxDupFrac, n)
      .groupBy("stage").agg(count(lit(1)).as("n_docs"))

  /** Audit against a prebuilt eval set (the per-batch production shape). */
  def cleanCorpusAuditWith(docs: DataFrame, idCol: String, textCol: String,
                           evalSet: TextHash.PairSet,
                           langProfiles: Seq[(String, Seq[String])],
                           stopwords: Seq[String],
                           keepLang: String, minQuality: Double,
                           maxDupFrac: Double, n: Int): DataFrame =
    cleanCorpusStagesWith(docs, idCol, textCol, evalSet, langProfiles,
      stopwords, keepLang, minQuality, maxDupFrac, n)
      .groupBy("stage").agg(count(lit(1)).as("n_docs"))

  // ------------------------------------------------------ clean-flags UDF

  /** ONE-pass computation of every per-doc gate of the clean pass:
    * (lang_ok, quality_ok, rep_ok) from a single tokenize + single token
    * walk. The expression form evaluated `split(text, " ")` once per
    * subexpression — jstack sampling of the 2M-page scaling run showed
    * `StringSplit.nullSafeEval` + interpreted HOF `filter` per language
    * profile as the hottest frames (7+ regex splits per row); this UDF
    * splits once, counts every stopword/profile hit and the bigram stats
    * in one walk, and reproduces each formula bit-for-bit (same double
    * operation order as the Catalyst trees; `codePointCount` ==
    * `length(text)` char semantics). Output parity with the expression
    * form is asserted in CleanFlagsParitySpec; q63's oracle remains the
    * end gate. */
  private[text] def cleanFlagsUdf(langProfiles: Seq[(String, Seq[String])],
                                  stopwords: Seq[String], keepLang: String,
                                  minQuality: Double, maxDupFrac: Double) = {
    // word → the counters it increments (0 = quality stopwords, 1+p = profile p)
    val counterIdx = new java.util.HashMap[String, Array[Int]]()
    def register(w: String, c: Int): Unit =
      counterIdx.merge(w, Array(c), (a, b) => a ++ b)
    stopwords.distinct.foreach(register(_, 0))
    langProfiles.zipWithIndex.foreach { case ((_, words), p) =>
      words.distinct.foreach(register(_, 1 + p))
    }
    val langs = langProfiles.map(_._1).toArray
    udf((text: String) => {
      val ws = text.split(" ", -1)
      val counters = new Array[Int](1 + langs.length)
      val bigrams = new java.util.HashMap[String, Int]()
      var top = 0
      var i = 0
      while (i < ws.length) {
        val hit = counterIdx.get(ws(i))
        if (hit != null) {
          var j = 0
          while (j < hit.length) { counters(hit(j)) += 1; j += 1 }
        }
        if (i < ws.length - 1) {
          val c = bigrams.merge(ws(i) + " " + ws(i + 1), 1, (a, b) => a + b)
          if (c > top) top = c
        }
        i += 1
      }
      // argmax with first-profile tie-break (strict > keeps the first)
      var best = 0
      var p = 1
      while (p < langs.length) {
        if (counters(1 + p) > counters(1 + best)) best = p
        p += 1
      }
      val nTokD = ws.length.toDouble
      val stopRatio = counters(0).toDouble / nTokD
      val nChars = text.codePointCount(0, text.length)
      val meanLen = (nChars.toDouble - (nTokD - 1.0)) / nTokD
      val quality = 0.5 * stopRatio + 0.5 * (1.0 - math.abs(meanLen - 5.0) / 10.0)
      val nBigrams = ws.length - 1
      val dupFrac =
        if (nBigrams <= 0) 0.0
        else (nBigrams - bigrams.size).toDouble / nBigrams.toDouble
      (langs(best) == keepLang, quality >= minQuality, dupFrac <= maxDupFrac)
    })
  }

  private val bigramStatsUdf = udf((text: String) => {
    // split(_, -1) keeps trailing empty tokens — Spark's split() and
    // DuckDB's string_split both do, and the oracle contract is bit parity
    val ws = text.split(" ", -1)
    if (ws.length < 2) (0L, 0L, 0L)
    else {
      val counts = new java.util.HashMap[String, Int]()
      var top = 0
      var i = 0
      while (i < ws.length - 1) {
        val bg = ws(i) + " " + ws(i + 1)
        val c = counts.merge(bg, 1, (a, b) => a + b)
        if (c > top) top = c
        i += 1
      }
      ((ws.length - 1).toLong, counts.size.toLong, top.toLong)
    }
  })

  /** Gopher-style repetition quality signals over word bigrams, computed
    * entirely doc-locally (zero shuffle, one pass per doc — NOT an
    * explode + groupBy that would shuffle text fragments):
    *
    *   n_bigrams           total bigram occurrences (= tokens - 1)
    *   n_distinct_bigrams  distinct bigrams
    *   top_bigram_cnt      occurrences of the most frequent bigram
    *   dup_bigram_frac     (n - distinct) / n  — "how much is repeated"
    *   top_bigram_frac     top / n             — "how dominated by one phrase"
    *
    * Fractions are single divisions of exact integers → bit-identical
    * everywhere. */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), bigramStatsUdf(col(textCol)).as("__s"))
      .select(col("id"),
        col("__s._1").as("n_bigrams"),
        col("__s._2").as("n_distinct_bigrams"),
        col("__s._3").as("top_bigram_cnt"))
      .withColumn("dup_bigram_frac",
        when(col("n_bigrams") === 0, lit(0.0))
          .otherwise((col("n_bigrams") - col("n_distinct_bigrams")).cast("double")
            / col("n_bigrams").cast("double")))
      .withColumn("top_bigram_frac",
        when(col("n_bigrams") === 0, lit(0.0))
          .otherwise(col("top_bigram_cnt").cast("double")
            / col("n_bigrams").cast("double")))

  // --------------------------------------------------- latest-capture dedup

  /** Latest-capture-wins per canonical URL (the re-crawl rule: a page
    * fetched in many snapshots keeps only its newest capture). Returns the
    * narrow DECISION table — (id, canon_hash, n_captures, kept) — not the
    * filtered corpus: at 10^12 pages the corpus filter is a semi-join the
    * caller runs against their own row shape, while the decision computes
    * entirely over (hash, id, ts) triples.
    *
    * kept = the capture with max (ts, id) in its canonical group; the id
    * tiebreak makes equal-timestamp re-captures deterministic under any
    * partitioning.
    *
    * Scale: canonicalization + hashing are map-side; the one shuffle keys
    * the 128-bit canon hash carrying (id, ts); winners rejoin on the same
    * key (AQE reuses the exchange). URL strings never ride a shuffle. */
  def latestCapture(df: DataFrame, idCol: String, urlCol: String,
                    tsCol: String): DataFrame = {
    // a NULL url must still reach the decision table (a null join key
    // would silently drop the row): each one forms its own singleton
    // group — no URL, nothing to collapse against, kept = true
    val keyed = df.select(col(idCol).as("id"),
      coalesce(md5(canonicalizeUrl(col(urlCol))),
        concat(lit("null:"), col(idCol).cast("string"))).as("canon_hash"),
      col(tsCol).as("__ts"))
    val winners = keyed.groupBy("canon_hash")
      .agg(max(struct(col("__ts"), col("id"))).as("__w"),
           count(lit(1)).as("n_captures"))
    keyed.join(winners, "canon_hash")
      .select(col("id"), col("canon_hash"), col("n_captures"),
        (col("__ts") === col("__w.__ts") && col("id") === col("__w.id"))
          .as("kept"))
  }

  // ------------------------------------------------- span-level exact dedup

  /** k-token window hashes per doc: two independent 64-bit FNV-1a streams
    * per token once, then one combine per window — O(chars + windows·k),
    * doc-local. 128 key bits total: at 10^14 windows a single 64-bit key
    * would collide ~10^8 times and each collision silently deletes a
    * legitimate span, so the key matches the md5 discipline of
    * paragraphDedup/latestCapture. A UDF (not `transform`) for the same
    * project-collapse reason as bigramStatsUdf. */
  private val windowHashesUdf = udf((ws: Seq[String], k: Int) => {
    if (ws == null || ws.length < k) Seq.empty[(Long, Long)]
    else {
      val thA = new Array[Long](ws.length)
      val thB = new Array[Long](ws.length)
      var t = 0
      while (t < ws.length) {
        var hA = 0xcbf29ce484222325L
        var hB = 0x9e3779b97f4a7c15L
        val s = ws(t); var c = 0
        while (c < s.length) {
          hA ^= s.charAt(c); hA *= 0x100000001b3L
          hB ^= s.charAt(c); hB *= 0xc2b2ae3d27d4eb4fL
          c += 1
        }
        thA(t) = hA; thB(t) = hB; t += 1
      }
      (0 to ws.length - k).map { i =>
        var hA = 0xcbf29ce484222325L
        var hB = 0x9e3779b97f4a7c15L
        var j = i
        while (j < i + k) {
          hA = (hA ^ thA(j)) * 0x100000001b3L
          hB = (hB ^ thB(j)) * 0xc2b2ae3d27d4eb4fL
          j += 1
        }
        (hA, hB)
      }
    }
  })

  /** Token-coverage span removal: every marked window start covers tokens
    * [pos, pos+k); overlapping windows merge naturally through coverage.
    * Returns (n_tokens, n_removed, cleaned text). */
  private val removeSpansUdf =
    udf((ws: Seq[String], marks: Seq[Int], k: Int) => {
      if (ws == null) (0L, 0L, null: String)
      else {
      val n = ws.length
      val covered = new Array[Boolean](n)
      if (marks != null) marks.foreach { p =>
        var j = p
        val end = math.min(p + k, n)
        while (j < end) { covered(j) = true; j += 1 }
      }
      val kept = new StringBuilder
      var removed = 0
      var i = 0
      while (i < n) {
        if (covered(i)) removed += 1
        else { if (kept.nonEmpty) kept += ' '; kept ++= ws(i) }
        i += 1
      }
      (n.toLong, removed.toLong, kept.toString)
      }
    })

  /** Cross-document EXACT substring dedup at SPAN level (the "deduplicating
    * training data" pass of Lee et al. 2022, arXiv:2107.06499): every
    * k-token window occurring more than once in the corpus is removed from
    * every occurrence except the globally-first one — "first" = min
    * (doc id, window position), deterministic under any partitioning.
    * Unlike doc-level dedup (TextOps) or paragraph dedup, this cuts the
    * repeated SPAN out of otherwise-unique documents (boilerplate,
    * licenses, quoted passages).
    *
    * Output: one row per doc — (id, n_tokens, n_removed, text_clean).
    *
    * Scale: window hashes are computed doc-locally and ONLY (hash, id, pos)
    * rides the duplicate-detection shuffle; the survivor is one min(struct)
    * aggregation per hash with map-side partial `count`; marks rejoin `occ`
    * on the same hash key (AQE reuses the exchange) and collapse to a small
    * per-doc position list before text reappears at the final id join —
    * document text never rides any shuffle. Same plan shape as
    * paragraphDedup with a window emitter instead of a paragraph splitter. */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
                k: Int = 50): DataFrame = {
    require(k >= 2, s"span window must cover at least 2 tokens (got $k)")
    val toks = df.select(col(idCol).as("id"), split(col(textCol), " ").as("ws"))
    val occ = toks.select(col("id"),
      posexplode(windowHashesUdf(col("ws"), lit(k))).as(Seq("pos", "wh")))
    val dups = occ.groupBy("wh")
      .agg(count(lit(1)).as("__c"),
           min(struct(col("id"), col("pos"))).as("__first"))
      .where(col("__c") >= 2)
      .select(col("wh"), col("__first.id").as("__fid"),
        col("__first.pos").as("__fpos"))
    val marks = occ.join(dups, "wh")
      .where(col("id") =!= col("__fid") || col("pos") =!= col("__fpos"))
      .groupBy("id").agg(sort_array(collect_set(col("pos"))).as("__marks"))
    toks.join(marks, Seq("id"), "left_outer")
      .select(col("id"),
        removeSpansUdf(col("ws"), col("__marks"), lit(k)).as("__r"))
      .select(col("id"),
        col("__r._1").as("n_tokens"),
        col("__r._2").as("n_removed"),
        col("__r._3").as("text_clean"))
  }

  // ------------------------------------------------- cluster canonicalization

  /** Canonical-document selection over near-dup clusters: given cluster
    * membership `(id, rep)` (e.g. [[TextOps.dedupComponents]] output) and a
    * per-document quality score `(id, q)`, keep exactly ONE document per
    * cluster — the argmax by `(q DESC, id ASC)` — and point every other
    * member at it. The "keep best, not first" policy of a dedup stage that
    * has a quality model (CCNet keeps the lowest-perplexity member; the
    * naive min-id keep throws away the best copy).
    *
    * The argmax is a single partial-aggregatable `max(struct(q, -id))` per
    * cluster — no window, so a mega-cluster (boilerplate that collapsed to
    * one component at crawl scale) costs one combine tree, not one
    * partition. Ties on `q` break to the SMALLEST id via the negated id in
    * the packed ordering struct. All shuffles carry (id, rep, q) longs. */
  def canonicalPerCluster(members: DataFrame, idCol: String, repCol: String,
                          quality: DataFrame, qIdCol: String,
                          qCol: String): DataFrame = {
    val m = members.select(col(idCol).as("id"), col(repCol).as("rep"))
      .join(quality.select(col(qIdCol).as("id"), col(qCol).cast("long").as("q")),
        "id")
    val canon = m.groupBy("rep")
      .agg(max(struct(col("q"), (-col("id")).as("nid"))).as("__best"))
      .select(col("rep"), (-col("__best.nid")).as("canonical_id"))
    m.join(canon, "rep")
      .select(col("id"), col("rep").as("rep_id"), col("canonical_id"),
        (col("id") === col("canonical_id")).cast("int").as("keep"))
  }

  // ----------------------------------------------------------- soft dedup

  /** Soft deduplication (the "downweight, don't drop" recipe): a document
    * with `n` byte-identical copies in the corpus survives with
    * probability ~1/n, realized DETERMINISTICALLY by the q89 hash gate —
    * `milli = 1000 div n`, keep iff `milli = 1000` (unique) or the doc's
    * hash residue falls under `milli` — so each duplicate GROUP
    * contributes ≈1 expected copy while every decision is a pure function
    * of (id, n), reproducible on any engine. Training pipelines use this
    * when hard dedup would distort the natural distribution of genuinely
    * popular content.
    *
    * Scale: one exchange keyed on the content md5 carrying (hash, id)
    * only; the gate is a narrow map. */
  def softDedupWeights(df: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val counted = df.select(col(idCol).as("id"), md5(col(textCol)).as("__h"))
      .withColumn("n_dups",
        count(lit(1)).over(Window.partitionBy("__h")))
      .withColumn("milli", expr("1000L div n_dups"))
    counted.select(col("id"), col("n_dups"), col("milli"),
      (expr("milli div 1000") +
        when(expr("(id * 131 + 7) % 1000") < col("milli") % 1000, 1L)
          .otherwise(0L)).cast("int").as("keep"))
  }

  // ---------------------------------------------------- exact percentiles

  /** Exact discrete percentiles per group (dataset-card stats): the value
    * at ordered rank `ceil(n·p/100)` — pure integer rank arithmetic, so
    * the reported value is the same on any engine (no interpolation,
    * whose midpoint average would reopen float territory). `idCol` breaks
    * ordering ties deterministically; the value AT a rank of a multiset
    * is tie-order-independent anyway.
    *
    * Scale: one per-group sort (the honest exact plan — a range exchange
    * keyed by group); 100 TB pipelines freeze sampled thresholds instead
    * (`NgramLm.bucketByThresholds` is that path) and run this exact form
    * on samples or per-partition-bounded groups. */
  def exactPercentiles(df: DataFrame, groupCol: String, valCol: String,
                       idCol: String, ps: Seq[Int]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 1 && p <= 100),
      s"percentiles must be in 1..100, got $ps")
    val w = Window.partitionBy("g").orderBy(col("v"), col("id"))
    val ranked = df.select(col(groupCol).as("g"),
        col(valCol).cast("long").as("v"), col(idCol).as("id"))
      .withColumn("r", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("g")))
    ranked.groupBy("g")
      .agg(max(col("n")).as("n_rows"),
        ps.map(p => max(when(col("r") === expr(s"(n * $p + 99) div 100"),
          col("v"))).as(s"p$p")): _*)
  }

  /** GLOBAL exact percentiles via the VALUE histogram — the scale-safe
    * twin of [[exactPercentiles]] for a single group: the value at
    * multiset rank `ceil(n·p/100)` equals the smallest value whose
    * cumulative count reaches that rank, so the computation needs one
    * hash aggregate keyed on the (integer) value plus one ordered pass
    * over the DISTINCT-VALUE table. The single-partition window that made
    * the row-ranked form a 10^12-doc scale-killer (round-5 verdict) now
    * runs over a frame bounded by the VALUE RANGE (micro-nat averages:
    * ~10^7 distinct values at any corpus size), not by the corpus.
    * Returns one row (n_rows, p<ps..>), bit-identical to
    * `exactPercentiles(df, lit-group, valCol, idCol, ps)` — certified by
    * PerplexityCutSpec on randomized multisets. */
  def exactPercentilesByValue(df: DataFrame, valCol: String,
                              ps: Seq[Int]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 1 && p <= 100),
      s"percentiles must be in 1..100, got $ps")
    // the histogram keys on the value cast to long: a fractional column
    // would be silently truncated, so only integral types are accepted
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
    val vt = df.select(col(valCol)).schema.head.dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(vt),
      s"$valCol must be an integral type, got ${vt.simpleString}")
    val hist = df.select(col(valCol).cast("long").as("v"))
      .groupBy("v").agg(count(lit(1)).as("c"))
      .transform(graft.spark.PersistTracker.persist) // cum pass + total
    val cum = hist.withColumn("cum",
      sum("c").over(Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    cum.crossJoin(broadcast(hist.agg(sum(col("c")).as("n"))))
      .agg(max(col("n")).as("n_rows"),
        ps.map(p => min(when(col("cum") >= expr(s"(n * $p + 99) div 100"),
          col("v"))).as(s"p$p")): _*)
  }

  // ------------------------------------------------- stratified sampling

  /** Deterministic stratified sampling: per-stratum keep rates in
    * per-mille, decided by the hash-residue gate `(id·173 + 11) mod 1000 <
    * rate` — a pure function of (id, stratum), so the sample reproduces on
    * any engine and partitioning, and is STABLE under incremental appends
    * (old rows never change their decision when new data arrives — the
    * property a training-data refresh needs, which `TABLESAMPLE`/
    * `df.sample` cannot give). Strata absent from `ratesMilli` use
    * `defaultMilli`. Output keeps every row, carrying (rate_milli, keep),
    * so callers can both filter and audit realized rates.
    *
    * Scale: one narrow codegen'd projection — no shuffle, no state. */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
                       ratesMilli: Map[String, Int],
                       defaultMilli: Int): DataFrame = {
    require((ratesMilli.values.toSeq :+ defaultMilli)
      .forall(r => r >= 0 && r <= 1000),
      s"rates must be 0..1000 per-mille: $ratesMilli / $defaultMilli")
    val rate = ratesMilli.toSeq.sortBy(_._1).foldLeft(
      lit(defaultMilli).cast("long")) { case (acc, (k, v)) =>
      when(col(strataCol) === k, lit(v).cast("long")).otherwise(acc)
    }
    df.withColumn("rate_milli", rate)
      .withColumn("keep",
        (col(idCol).cast("long") * 173L + 11L) % 1000L < col("rate_milli"))
      .withColumn("keep", col("keep").cast("int"))
  }
}
