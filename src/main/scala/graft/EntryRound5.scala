package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import graft.fixtures.Pages

/** Round-5 queries: the crawl-adjacent operators added this round, each
  * with a closed-form DuckDB oracle over the driver parquet tables. */
object EntryRound5 {

  private val streamSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Drain a finished memory-sink streaming query into a stable local
    * DataFrame (the q132 harness pattern), then stop the stream. */
  private def drainMemorySink(s: SparkSession,
                              q: org.apache.spark.sql.streaming.StreamingQuery,
                              qname: String): DataFrame = {
    val out = s.createDataFrame(
      java.util.Arrays.asList(s.table(qname).collect(): _*),
      s.table(qname).schema)
    q.stop()
    out
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // real PNG/JPEG decode via the JDK's own javax.imageio readers: every
    // doc becomes a genuinely ENCODED container (even ids → PNG, odd →
    // JPEG) whose raster follows a closed-form synthesis formula; the
    // engine decodes format + dimensions from the header walk, and for the
    // lossless PNG half also the full-decode red-channel sum — so the
    // oracle certifies the decoded raster pixel for pixel, not just the
    // writer/reader pairing (ref: reference raster image handling is a
    // declared non-goal; this is the crawl-pipeline image-meta pass)
    "q137_imageio_meta" -> ((s, dir) => {
      import graft.multimodal.MultimodalOps
      val mkImg = udf((docId: Long, nChars: Long) => {
        val w = (nChars % 64).toInt + 1
        val h = (docId % 48).toInt + 1
        val fmt = if (docId % 2 == 0) "png" else "jpg"
        MultimodalOps.encodeTestImage(fmt, docId, w, h)
      })
      // metadata-only repartition (16 B/row) before the compute-bound
      // encode+decode so one small parquet split doesn't serialize it
      val media = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("n_chars"))
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), mkImg(col("doc_id"), col("n_chars")).as("media"))
      MultimodalOps.decodeImageIoFacts(media, "doc_id", "media")
        .orderBy("id")
    }),

    // UPDATE-MODE twin of the q132 CDX capture-dedup state: the
    // flatMapGroupsWithState shape that is right at scale — state-store
    // key is exactly (url, digest), each micro-batch emits only updated
    // keys, event-time timeout bounds the store. The final state is
    // reconstructed from the update stream (min first_ts / max n_caps per
    // key — both monotone) and gated by the SAME batch oracle as q132.
    "q138_cdx_update_stream" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import graft.streaming.StatefulCrawl
      val mem = MemoryStream[(String, Long, String)](s)
      val qname = s"q138_cdxu_${streamSeq.incrementAndGet()}"
      val q = StatefulCrawl.cdxStateUpdate(
          mem.toDF().toDF("url", "ts", "text"), retention = "3650 days")
        .writeStream.format("memory").queryName(qname)
        .outputMode("update").start()
      val rows = EntryRound4c.captures(s, dir)
        .as[(String, Long, String)].collect()
      val (first, second) = rows.splitAt(rows.length / 2)
      mem.addData(first.toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(second.toIndexedSeq: _*)
      q.processAllAvailable()
      drainMemorySink(s, q, qname)
        .groupBy("url", "digest")
        .agg(min("first_ts").as("first_ts"), max("n_caps").as("n_caps"))
        .orderBy("url", "digest")
    }),

    // UPDATE-MODE twin of the q122 decay-density state: per-(ix, iy) page
    // count and exact-integer decay weight sum through
    // flatMapGroupsWithState with event-time eviction; weights computed
    // upstream by the q115 half-life shift arithmetic, so the state op
    // only ever sees (ix, iy, w, ts). Gated by the q122 batch oracle.
    "q139_decay_update_stream" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import graft.streaming.StatefulCrawl
      import graft.cells.Freshness
      val mem = MemoryStream[String](s)
      val qname = s"q139_decayu_${streamSeq.incrementAndGet()}"
      val pts = Pages.geotag(mem.toDF().toDF("url"))
        .withColumn("pid", Pages.urlId(col("url")))
        .withColumn("ts", lit(1600000000L) + col("pid") * 137L)
        .withColumn("age_days",
          expr("(1610000000L - ts) div 86400"))
        .select((col("x") / 512).cast("long").as("ix"),
          (col("y") / 512).cast("long").as("iy"),
          Freshness.halfLifeWeightMicro("age_days", 16).as("w"),
          col("ts"))
      val q = StatefulCrawl.decayStateUpdate(pts, retention = "36500 days")
        .writeStream.format("memory").queryName(qname)
        .outputMode("update").start()
      val urls = Pages.pages(s, dir).select("url").collect()
        .map(_.getString(0))
      val (first, second) = urls.splitAt(urls.length / 2)
      mem.addData(first.toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(second.toIndexedSeq: _*)
      q.processAllAvailable()
      drainMemorySink(s, q, qname)
        .groupBy("ix", "iy")
        .agg(max("n_pages").as("n_pages"), max("w_sum").as("w_sum"))
        .orderBy("ix", "iy")
    }),

    // AS-OF join: each capture picks up the robots.txt version that was
    // live at its timestamp (latest version time ≤ capture time, −1 when
    // none yet) — the temporal-version lookup Spark lacks natively,
    // expressed as ONE keyed exchange + ONE ordered window (no row
    // amplification); the oracle is DuckDB's own ASOF LEFT JOIN, a fully
    // independent implementation of the same semantics
    "q140_asof_robots" -> ((s, dir) => {
      import graft.operators.AsOfJoin
      val versions = s.range(97).select(col("id").as("k"))
        .select(col("k"), explode(expr("sequence(0L, k % 4)")).as("v"))
        .select(
          concat(lit("host"), col("k").cast("string"),
            lit(".example.org")).as("domain"),
          (lit(1600000000L) + col("v") * 100000L + col("k") * 997L)
            .as("vtime"),
          col("v").as("robots_v"))
      val caps = EntryRound4c.captures(s, dir)
        .select(col("url"),
          regexp_extract(col("url"), "^https://([^/]+)", 1).as("domain"),
          col("ts"))
      AsOfJoin.asOf(caps, versions, "domain", "ts", "vtime", Seq("robots_v"))
        .select(col("url"), col("ts"),
          coalesce(col("robots_v"), lit(-1L)).as("robots_v"))
        .orderBy("url", "ts")
    }),

    // interval/range join: map each page's synthetic IPv4 address to its
    // owning CIDR-ish block via the bucketed equi-join formulation (ranges
    // explode onto 2^24-wide buckets, points hash-join on the bucket,
    // containment filters) — never the BroadcastNestedLoop cross product
    // Spark would pick for a raw BETWEEN join
    "q141_ip_range_join" -> ((s, dir) => {
      import graft.operators.RangeJoin
      val pts = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          ((col("doc_id") * 2654435761L) % 4294967296L).as("ip"))
      val ranges = s.range(256).select(col("id").as("b"))
        .select(
          (col("b") * 16777216L + 9000000L).as("lo"),
          (col("b") * 16777216L + 9000000L +
            (col("b") % 9 + 1) * 1111111L).as("hi"),
          (lit(64496L) + col("b")).as("asn"))
      RangeJoin.pointInRange(pts, ranges, "ip", "lo", "hi", Seq("asn"),
          bucketWidth = 16777216L)
        .select(col("doc_id"), col("ip"),
          coalesce(col("asn"), lit(-1L)).as("asn"))
        .orderBy("doc_id")
    }),

    // deterministic stratified sampling: per-language keep rates decided
    // by the (id·173 + 11) mod 1000 residue gate — reproducible on any
    // engine/partitioning and stable under appends, which df.sample/
    // TABLESAMPLE cannot give; every decision re-derived by the oracle
    "q142_stratified_sample" -> ((s, dir) => {
      import graft.text.PipelineOps
      PipelineOps.stratifiedSample(
          s.read.parquet(s"$dir/documents.parquet"),
          "doc_id", "lang",
          Map("en" -> 100, "zh" -> 400, "de" -> 250), defaultMilli = 500)
        .select(col("doc_id"), col("lang"), col("rate_milli"), col("keep"))
        .orderBy("doc_id")
    }),

    // int8 embedding quantization + integer-dot top-k: symmetric
    // per-vector quantization in fixed IEEE-double steps (bit-exact on
    // any engine), then brute-force neighbor ranking entirely in integer
    // arithmetic — the 4×-compression path a 100-TB embedding store runs
    // before index build
    "q143_quantized_ann" -> ((s, dir) => {
      import graft.ml.Quantize
      Quantize.topKDotQuantized(
          s.read.parquet(s"$dir/embeddings.parquet"),
          "vec_id", "embedding", probeIds = Seq(1L, 2L, 3L), k = 10)
        .orderBy("qid", "rank")
    }),

    // multi-source BFS crawl depth: how many hops from the seed domains is
    // every domain of the closed-form link graph — Pregel-style frontier
    // expansion with (long, int) rows only, gated by a DuckDB RECURSIVE
    // CTE computing the same shortest depths independently
    "q144_crawl_depth" -> ((s, dir) => {
      import graft.graph.Bfs
      val edges = s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"),
          explode(array(lit(7919L), lit(15838L), lit(23757L))).as("p"))
        .select((col("doc_id") % 97).as("src"),
          ((col("doc_id") * 31 + col("p")) % 97).as("dst"))
        .distinct()
      val seeds = s.range(3).select(col("id"))
      Bfs.depths(edges, seeds, maxDepth = 6)
        .select(col("id"), col("depth").cast("int").as("depth"))
        .orderBy("id")
    }),

    // content-type triage: magic-byte MIME sniffing (pure codegen column
    // expression, no UDF) over payloads that are GENUINELY encoded by the
    // real codecs — PNG/JPEG/GIF/BMP from the ImageIO writers, RIFF/WAVE
    // from the container writer, gzip from the deflater, plus PDF/HTML
    // prologs and plain text — so every magic the sniffer claims is the
    // magic the writer actually produced
    "q145_mime_sniff" -> ((s, dir) => {
      import graft.multimodal.{Containers, MultimodalOps}
      val mkPayload = udf((docId: Long, text: String) => {
        val tb = (if (text == null) "x" else text).getBytes("UTF-8")
        (docId % 8) match {
          case 0 => MultimodalOps.encodeTestImage("png", docId, 4, 3)
          case 1 => MultimodalOps.encodeTestImage("jpg", docId, 4, 3)
          case 2 => MultimodalOps.encodeTestImage("gif", docId, 4, 3)
          case 3 => MultimodalOps.encodeTestImage("bmp", docId, 4, 3)
          case 4 => Containers.Wav.write(8000, 1, 8, new Array[Byte](16))
          case 5 =>
            val bos = new java.io.ByteArrayOutputStream()
            val gz = new java.util.zip.GZIPOutputStream(bos)
            gz.write(tb); gz.close(); bos.toByteArray
          case 6 => ("%PDF-1.4\n% synthetic\n").getBytes("US-ASCII")
          case _ => tb
        }
      })
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          mkPayload(col("doc_id"), col("text")).as("media"))
        .select(col("doc_id"),
          MultimodalOps.sniffMimeCol(col("media")).as("mime"))
        .orderBy("doc_id")
    })
  )

  def oracles: Map[String, String] = Map(

    "q137_imageio_meta" ->
      """WITH dims AS (SELECT doc_id,
        |    CAST(n_chars % 64 + 1 AS INT) AS w,
        |    CAST(doc_id % 48 + 1 AS INT) AS h
        |  FROM documents),
        |px AS (SELECT doc_id, w, h,
        |    unnest(generate_series(0, w * h - 1)) AS i
        |  FROM dims WHERE doc_id % 2 = 0),
        |sums AS (SELECT doc_id,
        |    CAST(sum((doc_id * 31 + 7 * (i % w) + 13 * (i // w)) % 256)
        |         AS BIGINT) AS red_sum
        |  FROM px GROUP BY doc_id)
        |SELECT d.doc_id AS id,
        |  CASE WHEN d.doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
        |  CAST(d.w AS BIGINT) AS width, CAST(d.h AS BIGINT) AS height,
        |  CAST(coalesce(s.red_sum, -1) AS BIGINT) AS red_sum
        |FROM dims d LEFT JOIN sums s ON d.doc_id = s.doc_id
        |ORDER BY id""".stripMargin,

    // same oracle as q132: the update-mode state must reconstruct to the
    // identical batch aggregation
    "q138_cdx_update_stream" ->
      """WITH c AS (SELECT doc_id, text,
        |    unnest(range(doc_id % 3 + 1)) AS j FROM documents),
        |r AS (SELECT
        |    'https://host' || CAST(doc_id % 97 AS VARCHAR) || '.example.org/doc/'
        |      || CAST(doc_id AS VARCHAR) AS url,
        |    CAST(1600000000 + doc_id * 137 + j * 86400 AS BIGINT) AS ts,
        |    md5(CASE WHEN j = 2 THEN 'MOD ' || text ELSE text END) AS digest
        |  FROM c)
        |SELECT url, digest, min(ts) AS first_ts, count(*) AS n_caps
        |FROM r GROUP BY 1, 2 ORDER BY url, digest""".stripMargin,

    // same oracle as q122: update-mode decay state vs the batch density
    "q139_decay_update_stream" ->
      s"""WITH pg AS (${Pages.geotaggedSql}),
         |t AS (SELECT CAST(floor(x / 512) AS BIGINT) AS ix,
         |             CAST(floor(y / 512) AS BIGINT) AS iy,
         |        (1610000000 - CAST(epoch(warc_ts) AS BIGINT)) // 86400
         |          AS age
         |      FROM pg)
         |SELECT ix, iy, count(*) AS n_pages,
         |  CAST(sum(CASE WHEN age < 0 THEN 1000000
         |       WHEN (age // 16) > 62 THEN 0
         |       ELSE 1000000 >> CAST(age // 16 AS INT) END) AS BIGINT)
         |    AS w_sum
         |FROM t GROUP BY 1, 2 ORDER BY ix, iy""".stripMargin,

    // DuckDB's native ASOF LEFT JOIN — an independent implementation of
    // the t' <= t latest-version semantics the engine builds from a
    // union + ordered window
    "q140_asof_robots" ->
      """WITH c AS (SELECT doc_id,
        |    unnest(range(doc_id % 3 + 1)) AS j FROM documents),
        |caps AS (SELECT
        |    'https://host' || CAST(doc_id % 97 AS VARCHAR) ||
        |      '.example.org/doc/' || CAST(doc_id AS VARCHAR) AS url,
        |    'host' || CAST(doc_id % 97 AS VARCHAR) || '.example.org'
        |      AS domain,
        |    CAST(1600000000 + doc_id * 137 + j * 86400 AS BIGINT) AS ts
        |  FROM c),
        |kv AS (SELECT k, unnest(generate_series(0, k % 4)) AS v
        |       FROM (SELECT unnest(range(97)) AS k)),
        |ver AS (SELECT
        |    'host' || CAST(k AS VARCHAR) || '.example.org' AS domain,
        |    CAST(1600000000 + v * 100000 + k * 997 AS BIGINT) AS vtime,
        |    CAST(v AS BIGINT) AS robots_v
        |  FROM kv)
        |SELECT cp.url, cp.ts, coalesce(r.robots_v, -1) AS robots_v
        |FROM caps cp ASOF LEFT JOIN ver r
        |  ON cp.domain = r.domain AND cp.ts >= r.vtime
        |ORDER BY url, ts""".stripMargin,

    // plain BETWEEN join: DuckDB's IEJoin handles the small oracle side;
    // the engine side must produce the identical rows from the bucketed
    // formulation
    "q141_ip_range_join" ->
      """WITH pts AS (SELECT doc_id,
        |    CAST((doc_id * 2654435761) % 4294967296 AS BIGINT) AS ip
        |  FROM documents),
        |r AS (SELECT
        |    CAST(b * 16777216 + 9000000 AS BIGINT) AS lo,
        |    CAST(b * 16777216 + 9000000 + (b % 9 + 1) * 1111111 AS BIGINT)
        |      AS hi,
        |    CAST(64496 + b AS BIGINT) AS asn
        |  FROM (SELECT unnest(range(256)) AS b))
        |SELECT p.doc_id, p.ip, coalesce(r.asn, -1) AS asn
        |FROM pts p LEFT JOIN r ON p.ip BETWEEN r.lo AND r.hi
        |ORDER BY doc_id""".stripMargin,

    "q142_stratified_sample" ->
      """WITH d AS (SELECT doc_id, lang,
        |    CAST(CASE lang WHEN 'en' THEN 100 WHEN 'zh' THEN 400
        |         WHEN 'de' THEN 250 ELSE 500 END AS BIGINT) AS rate_milli
        |  FROM documents)
        |SELECT doc_id, lang, rate_milli,
        |  CAST(CASE WHEN (doc_id * 173 + 11) % 1000 < rate_milli
        |       THEN 1 ELSE 0 END AS INT) AS keep
        |FROM d ORDER BY doc_id""".stripMargin,

    // the full quantize → int-dot → rank pipeline re-derived in SQL: the
    // same fixed IEEE-double quantization expression, then exact integer
    // dot products and ranking
    "q143_quantized_ann" ->
      """WITH q AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(
        |      CAST(x AS DOUBLE) * 127 / greatest(1e-30,
        |        list_max(list_transform(embedding,
        |          y -> abs(CAST(y AS DOUBLE))))) + 0.5) AS INT)) AS q8
        |  FROM embeddings),
        |p AS (SELECT vec_id AS qid, q8 AS pq8 FROM q
        |      WHERE vec_id IN (1, 2, 3)),
        |d AS (SELECT p.qid, q.vec_id AS id,
        |    CAST(list_sum(list_transform(list_zip(q.q8, p.pq8),
        |      z -> z[1] * z[2])) AS BIGINT) AS dot
        |  FROM q, p WHERE q.vec_id <> p.qid),
        |r AS (SELECT qid, id, dot,
        |    row_number() OVER (PARTITION BY qid ORDER BY dot DESC, id)
        |      AS rank
        |  FROM d)
        |SELECT qid, CAST(rank AS INT) AS rank, id, dot FROM r
        |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,

    // independent shortest-depth computation: a RECURSIVE CTE expands
    // (node, depth) pairs to the same cap and takes the per-node minimum
    "q144_crawl_depth" ->
      """WITH RECURSIVE e AS (SELECT DISTINCT
        |    doc_id % 97 AS src,
        |    (doc_id * 31 + p) % 97 AS dst
        |  FROM documents, (SELECT unnest([7919, 15838, 23757]) AS p)
        |  WHERE doc_id % 5 <> 0),
        |bfs(id, depth) AS (
        |  SELECT CAST(k AS BIGINT), 0 FROM (SELECT unnest(range(3)) AS k)
        |  UNION
        |  SELECT e.dst, b.depth + 1 FROM bfs b JOIN e ON e.src = b.id
        |  WHERE b.depth < 6)
        |SELECT id, CAST(min(depth) AS INT) AS depth
        |FROM bfs GROUP BY id ORDER BY id""".stripMargin,

    // the synthesis arm is keyed on doc_id mod 8, so the expected label is
    // closed-form; the engine must recover it from the real encoded bytes
    "q145_mime_sniff" ->
      """SELECT doc_id,
        |  CASE doc_id % 8
        |    WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
        |    WHEN 2 THEN 'image/gif' WHEN 3 THEN 'image/bmp'
        |    WHEN 4 THEN 'audio/wav' WHEN 5 THEN 'application/gzip'
        |    WHEN 6 THEN 'application/pdf'
        |    ELSE 'application/octet-stream' END AS mime
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
