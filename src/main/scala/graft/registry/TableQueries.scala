package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.fixtures.{Pages, TpchGeo}
import graft.fixtures.TpchGeo.{domain, grid, zres}
import graft.operators.{SpatialJoin, Surrogate}
import graft.table.SnapshotTable
import graft.text.PipelineOps
import graft.SparkEntry.scratch

/** The snapshot table: MERGE, change data feed, compaction, expiry,
  * manifest pruning, bucketing and incremental maintenance. */
object TableQueries {

  /** Build the merge fixture table UNDER A FRESH SUB-ROOT EVERY CALL:
    * v1 = documents range-partitioned by doc_id (8 files with disjoint
    * manifest bounds), v2 = copy-on-write MERGE of (docs 0..49 updated —
    * a band inside the FIRST file's range at every SF, so most files
    * genuinely carry over by path) ∪ (every-25th doc re-inserted under a
    * new id, above every file's bound). The fresh root makes each bench
    * invocation time the SAME work (base write + merge + reads) instead
    * of a warm cache, and the carry-over assertion makes the driver gate
    * exercise the copy-on-write mix, not just the spec. */
  private def mergedSnapshots(s: SparkSession, dir: String): (SnapshotTable, Int, Int) = {
    val t = new SnapshotTable(SparkEntry.scratch(s, "merge", dir) + "/" +
      java.util.UUID.randomUUID().toString.take(8))
    def docs = s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val s1 = t.commit(docs.repartitionByRange(8, col("doc_id")), "append", "docs")
    val upd = docs.where(col("doc_id") < 50)
      .select(col("doc_id"), concat(lit("UPDATED "), col("text")).as("text"))
      .unionByName(docs.where(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(lit("NEW "), col("text")).as("text")))
    val s2 = t.merge(s, upd, "doc_id")
    val reused = s2.files.map(_.path).toSet
      .intersect(s1.files.map(_.path).toSet).size
    // range boundaries come from sampling, so allow one split band —
    // but a merge that rewrote everything would void the gate's point
    require(reused >= 6,
      s"copy-on-write carry-over degenerated: only $reused of ${s1.files.length} files reused")
    (t, s1.version, s2.version)
  }

  def all: Seq[Q] = Seq(
    // --- snapshot-table checkpoint/resume as a DRIVER gate (the north
    // rule's resumability requirement; SnapshotTable = the Iceberg-style
    // atomic-pointer table, Resumable.stage = the checkpoint driver):
    // two staged commits, then the same stages re-requested with a
    // poisoned compute — resume MUST read the snapshots back instead of
    // recomputing, and time-travel keeps both versions readable. Output
    // is both versions' contents, hash-checked against DuckDB.
    Q("q71_snapshot_resume", (s, dir) => {
      import graft.table.{SnapshotTable, Resumable}
      val t = new SnapshotTable(scratch(s, "snap", dir))
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          graft.text.TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      Resumable.stage(t, s, "tokens") { docs }
      val v2 = Resumable.stage(t, s, "filtered") {
        t.read(s).where(col("n_tokens") >= 25)
      }
      val v1Resumed = Resumable.stage(t, s, "tokens") {
        throw new IllegalStateException("stage recomputed despite snapshot")
      }
      v1Resumed.withColumn("version", lit(1))
        .unionByName(v2.withColumn("version", lit(2)))
        .select("version", "doc_id", "n_tokens")
        .orderBy("version", "doc_id")
    },
      """WITH t AS (SELECT doc_id,
        |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |      FROM documents)
        |SELECT 1 AS version, doc_id, n_tokens FROM t
        |UNION ALL
        |SELECT 2 AS version, doc_id, n_tokens FROM t WHERE n_tokens >= 25
        |ORDER BY version, doc_id""".stripMargin),

    // copy-on-write MERGE (upsert) on the snapshot table: the post-merge
    // state read through the manifest (a mix of carried-over and rewritten
    // files) must equal the SQL upsert — and time travel to v1 still works
    Q("q80_snapshot_merge", (s, dir) => {
      val (t, v1, v2) = mergedSnapshots(s, dir)
      val before = t.readAt(s, v1).agg(count(lit(1))).head().getLong(0)
      t.readAt(s, v2)
        .select(col("doc_id"), md5(col("text")).as("text_hash"),
          lit(before).as("rows_v1"))
        .orderBy("doc_id")
    },
      """WITH upd AS (
        |  SELECT doc_id, 'UPDATED ' || text AS text FROM documents WHERE doc_id < 50
        |  UNION ALL
        |  SELECT doc_id + 200000, 'NEW ' || text FROM documents WHERE doc_id % 25 = 0),
        |fin AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id NOT IN (SELECT doc_id FROM upd)
        |  UNION ALL SELECT doc_id, text FROM upd)
        |SELECT doc_id, md5(text) AS text_hash,
        |  (SELECT count(*) FROM documents) AS rows_v1
        |FROM fin ORDER BY doc_id""".stripMargin),

    // change-data-feed between the two snapshots: delete+insert pairs for
    // updated keys, bare inserts for new keys; carried-over files are
    // never read (file-identity short circuit), and rewritten-but-equal
    // rows cancel in the symmetric difference
    Q("q81_snapshot_cdf", (s, dir) => {
      val (t, v1, v2) = mergedSnapshots(s, dir)
      t.changes(s, v1, v2)
        .select(col("_op"), col("doc_id"), md5(col("text")).as("text_hash"))
        .orderBy("doc_id", "_op")
    },
      """WITH d AS (
        |  SELECT 'delete' AS _op, doc_id, text FROM documents WHERE doc_id < 50),
        |i AS (
        |  SELECT 'insert' AS _op, doc_id, 'UPDATED ' || text AS text
        |  FROM documents WHERE doc_id < 50
        |  UNION ALL
        |  SELECT 'insert', doc_id + 200000, 'NEW ' || text
        |  FROM documents WHERE doc_id % 25 = 0)
        |SELECT _op, doc_id, md5(text) AS text_hash
        |FROM (SELECT * FROM d UNION ALL SELECT * FROM i) u
        |ORDER BY doc_id, _op""".stripMargin),

    // recrawl-delta classification against the committed snapshot: the
    // batch re-fetches every 3rd page (each 7th of those changed) plus
    // brand-new urls; prev side collapses to (id, md5) through the
    // manifest read before the join
    Q("q95_recrawl_delta", (s, dir) => {
      val t = new SnapshotTable(SparkEntry.scratch(s, "recrawl", dir) + "/" +
        java.util.UUID.randomUUID().toString.take(8))
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      t.commit(docs, "append", "base crawl")
      val batch = docs.where(col("doc_id") % 3 === 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(lit("MOD "), col("text")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.where(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 300000).as("doc_id"),
            concat(lit("NEW "), col("text")).as("text")))
      PipelineOps.recrawlDelta(batch, "doc_id", "text",
          t.read(s), "doc_id", "text")
        .select(col("id").as("doc_id"), col("text_hash"), col("op"))
        .orderBy("doc_id")
    },
      """WITH b AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN 'MOD ' || text ELSE text END AS text
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 300000, 'NEW ' || text FROM documents
        |  WHERE doc_id % 13 = 0)
        |SELECT doc_id, md5(text) AS text_hash,
        |  CASE WHEN doc_id >= 300000 THEN 'new'
        |       WHEN doc_id % 7 = 0 THEN 'changed'
        |       ELSE 'unchanged' END AS op
        |FROM b ORDER BY doc_id""".stripMargin),

    // metadata-only fast append WITH schema evolution: v2 appends new
    // rows carrying a column v1's files lack; the merged read returns
    // null-for-old (surfaced as '-'), and every v1 file must carry over
    // by reference (the O(new-data) commit contract)
    Q("q101_snapshot_evolve", (s, dir) => {
      val t = new SnapshotTable(SparkEntry.scratch(s, "evolve", dir) + "/" +
        java.util.UUID.randomUUID().toString.take(8))
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val s1 = t.commit(docs.select(col("doc_id"), col("text")),
        "append", "base")
      val s2 = t.append(docs.where(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 400000).as("doc_id"),
          concat(lit("V2 "), col("text")).as("text"), col("lang")),
        "evolved batch")
      require(s1.files.map(_.path).toSet.subsetOf(s2.files.map(_.path).toSet),
        "fast append must carry every parent file over by reference")
      t.read(s)
        .select(col("doc_id"), md5(col("text")).as("text_hash"),
          coalesce(col("lang"), lit("-")).as("lang"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, md5(text) AS text_hash, '-' AS lang FROM documents
        |UNION ALL
        |SELECT doc_id + 400000, md5('V2 ' || text), lang
        |FROM documents WHERE doc_id % 11 = 0
        |ORDER BY doc_id""".stripMargin),

    // z-order-clustered snapshot + 2-D manifest pruning: geotagged pages
    // written sorted by Morton z-value, a bounding-box read through the
    // per-file (ix, iy) stats envelope — the in-query require proves files
    // were actually skipped, and the oracle (a plain filter over the
    // closed-form geotag) proves the index is invisible in the result
    Q("q108_zorder_prune", (s, dir) => {
      import graft.cells.ZOrder
      import graft.table.SnapshotTable
      val t = new SnapshotTable(SparkEntry.scratch(s, "zorder", dir) + "/" +
        java.util.UUID.randomUUID().toString.take(8))
      val pts = Pages.geotag(Pages.pages(s, dir))
        .select((col("x") / 256).cast("long").as("ix"),
          (col("y") / 256).cast("long").as("iy"))
      val z = ZOrder.zvalue(col("ix"), col("iy"))
      t.commit(pts.repartitionByRange(8, z).sortWithinPartitions(z),
        "append", "zorder pages")
      val box = Seq(("ix", 8L, 11L), ("iy", 16L, 23L))
      val pruned = t.prunedFilesWhere(box)
      require(pruned.size < t.current.get.files.size,
        s"z-order layout degenerated: bbox scan reads all " +
          s"${t.current.get.files.size} files")
      t.readWhereBox(s, box)
        .groupBy("ix", "iy").agg(count(lit(1)).as("n_pages"))
        .orderBy("ix", "iy")
    },
      s"""WITH pg AS (${Pages.geotaggedSql}),
         |t AS (SELECT CAST(floor(x / 256) AS BIGINT) AS ix,
         |             CAST(floor(y / 256) AS BIGINT) AS iy
         |      FROM pg)
         |SELECT ix, iy, count(*) AS n_pages
         |FROM t WHERE ix BETWEEN 8 AND 11 AND iy BETWEEN 16 AND 23
         |GROUP BY 1, 2 ORDER BY ix, iy""".stripMargin),

    // storage-level bucketing: doc-stats and doc-lang tables co-bucketed
    // on doc_id (8 buckets, sorted), joined WITHOUT a shuffle exchange on
    // either side (BucketedJoinSpec asserts the exchange-free SortMerge
    // plan) — the physical design for a 100 TB store's recurring joins;
    // the oracle checks the joined aggregate against the base table
    Q("q154_bucketed_join", (s, dir) => {
      import graft.table.Bucketed
      val app = s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val stats = Bucketed.writeTable(docs.select("doc_id", "n_chars"),
        s"g154_stats_$app", SparkEntry.scratch(s, "bkt_stats", dir),
        buckets = 8, keyCol = "doc_id")
      val langs = Bucketed.writeTable(docs.select("doc_id", "lang"),
        s"g154_langs_$app", SparkEntry.scratch(s, "bkt_langs", dir),
        buckets = 8, keyCol = "doc_id")
      stats.join(langs, "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .orderBy("lang")
    },
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // small-file compaction round trip: eight appends fragment the table,
    // compact() rewrites the CURRENT snapshot into 4 files (old versions
    // stay time-travelable), and the read-back must be row-identical to
    // the source — the oracle reads the source directly
    Q("q174_snapshot_compact", (s, dir) => {
      import graft.table.SnapshotTable
      val root = SparkEntry.scratch(s, s"q174_${Q.nextSeq()}", dir)
      val t = new SnapshotTable(root)
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "n_chars")
      for (i <- 0 until 8)
        t.append(d.where(col("doc_id") % 8 === i), s"slice$i")
      val before = t.current.map(_.files.size).getOrElse(0)
      val compacted = t.compact(s, numFiles = 4)
      require(compacted.files.size <= 4 && compacted.files.size < before,
        s"compaction did not shrink the file list: $before -> ${compacted.files.size}")
      t.read(s).orderBy("doc_id")
    },
      // compaction must be row-invariant: the oracle is the source itself
      "SELECT doc_id, n_chars FROM documents ORDER BY doc_id"),

    // lineage audit: three staged appends into the snapshot table, read
    // back ENTIRELY from manifests (no data re-scan) — version, stage,
    // operation, per-commit delta and cumulative rows. The require()s are
    // the lineage contract: parent ids chain, and the manifest row count
    // equals the sum of its per-file metrics. The oracle predicts every
    // number from the source table alone, certifying the metrics capture.
    Q("q176_snapshot_lineage", (s, dir) => {
      import graft.table.SnapshotTable
      val root = SparkEntry.scratch(s, s"q176_${Q.nextSeq()}", dir)
      val t = new SnapshotTable(root)
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "lang", "n_chars")
      t.append(d.where(col("lang") === "en"), "ingest_en")
      t.append(d.where(col("lang") =!= "en" && col("doc_id") % 2 === 0),
        "ingest_rest_even")
      t.append(d.where(col("lang") =!= "en" && col("doc_id") % 2 === 1),
        "ingest_rest_odd")
      val snaps = t.snapshots.sortBy(_.version)
      snaps.zipWithIndex.foreach { case (sn, i) =>
        require(sn.rows == sn.files.map(_.rows).sum,
          s"v${sn.version}: manifest rows ${sn.rows} != file metrics sum")
        if (i > 0) require(sn.parentId.contains(snaps(i - 1).id),
          s"v${sn.version}: parent chain broken")
        else require(sn.parentId.isEmpty, "v1 must have no parent")
      }
      val rows = snaps.zipWithIndex.map { case (sn, i) =>
        val prev = if (i == 0) 0L else snaps(i - 1).rows
        (sn.version, sn.stage, sn.operation, sn.rows - prev, sn.rows)
      }
      import s.implicits._
      rows.toDF("version", "stage", "operation", "delta_rows", "cum_rows")
        .orderBy("version")
    },
      """WITH c AS (SELECT
        |  sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n1,
        |  sum(CASE WHEN lang <> 'en' AND doc_id % 2 = 0 THEN 1 ELSE 0 END)
        |    AS n2,
        |  sum(CASE WHEN lang <> 'en' AND doc_id % 2 = 1 THEN 1 ELSE 0 END)
        |    AS n3
        |FROM documents)
        |SELECT * FROM (
        |  SELECT CAST(1 AS INT) AS version, 'ingest_en' AS stage,
        |    'append' AS operation, CAST(n1 AS BIGINT) AS delta_rows,
        |    CAST(n1 AS BIGINT) AS cum_rows FROM c
        |  UNION ALL
        |  SELECT CAST(2 AS INT), 'ingest_rest_even', 'append',
        |    CAST(n2 AS BIGINT), CAST(n1 + n2 AS BIGINT) FROM c
        |  UNION ALL
        |  SELECT CAST(3 AS INT), 'ingest_rest_odd', 'append',
        |    CAST(n3 AS BIGINT), CAST(n1 + n2 + n3 AS BIGINT) FROM c)
        |ORDER BY version""".stripMargin),

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
    Q("q182_incremental_srg", (s, dir) => {
      import graft.table.SnapshotTable
      import graft.operators.{Surrogate, SpatialJoin}
      val root = SparkEntry.scratch(s, s"q182_${Q.nextSeq()}", dir)
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
    },
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
         |ORDER BY fips, "row", col""".stripMargin),

    // point lookup on a NON-clustering column through a per-file Bloom
    // index: the table is laid out by n_chars (so doc_id min/max stats
    // are useless), the index is one pass + file-count-sized, and the
    // probe reads ONLY the surviving files — the in-query `require` is
    // the pruning certificate; the oracle checks the looked-up rows
    Q("q184_bloom_lookup", (s, dir) => {
      import graft.table.BloomIndex
      val root = SparkEntry.scratch(s, s"q184_${Q.nextSeq()}", dir)
      s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "lang", "n_chars")
        .repartition(16, pmod(col("n_chars"), lit(16)))
        .write.mode("overwrite").parquet(root)
      val index = BloomIndex.build(s, root, "doc_id", mbits = 4096, k = 3)
        .transform(graft.spark.PersistTracker.persist)
      import s.implicits._
      val keys = Seq(7L, 12L, 23L, 31L, 44L).toDF("key")
      // candidate paths are file-count bounded (manifest scale) — the
      // collect is the same guarded sink contract as the snapshot reads
      val cand = BloomIndex.candidateFiles(index, keys, 4096, 3)
        .collect().map(_.getString(0))
      val total = index.count()
      require(cand.nonEmpty && cand.length <= total / 2,
        s"bloom index failed to prune: ${cand.length} of $total files survive")
      s.read.parquet(cand: _*)
        .join(broadcast(keys), col("doc_id") === col("key"))
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    },
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id IN (7, 12, 23, 31, 44) ORDER BY doc_id""".stripMargin),

    // CDF replay identity: applying the change feed to the OLD version
    // must reproduce the NEW version exactly — the contract that lets a
    // downstream materialized view maintain itself from deltas instead
    // of re-reading the table. The require is the identity; the oracle
    // re-predicts the post-merge aggregate from the source table alone.
    Q("q198_cdf_replay", (s, dir) => {
      import graft.table.SnapshotTable
      val root = SparkEntry.scratch(s, s"q198_${Q.nextSeq()}", dir)
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
    },
      """WITH v2 AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 7 = 0 THEN n_chars + 100000
        |         ELSE n_chars END AS n_chars
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 500000, lang, n_chars FROM documents
        |  WHERE doc_id % 41 = 0)
        |SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM v2 GROUP BY 1 ORDER BY lang""".stripMargin),

    // snapshot retention GC: 3 versions (append → merge → compact),
    // expire all but the last 2 — the expired version must raise, both
    // retained versions must read back exactly, and copy-on-write files
    // shared into retained manifests must survive the deletion pass
    // (Iceberg's reachability rule). The emitted rows are the retained
    // versions' aggregates, each predicted from the source table.
    Q("q201_snapshot_expire", (s, dir) => {
      import graft.table.SnapshotTable
      val root = SparkEntry.scratch(s, s"q201_${Q.nextSeq()}", dir)
      val t = new SnapshotTable(root)
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "lang", "n_chars")
      t.append(docs.repartition(8, col("doc_id")), "base")
      val upd = docs.where(col("doc_id") % 11 === 0)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") * 2).as("n_chars"))
      val v2 = t.merge(s, upd, "doc_id").version
      val v3 = t.compact(s, numFiles = 2).version
      val expired = t.expireSnapshots(keepLast = 2)
      require(expired == Seq(1), s"expected to expire v1 only: $expired")
      val gone =
        try { t.readAt(s, 1); false } catch { case _: Throwable => true }
      require(gone, "time travel to the expired v1 must fail loudly")
      def agg(v: Int): DataFrame = t.readAt(s, v)
        .groupBy("lang").agg(count(lit(1)).as("n"),
          sum("n_chars").as("sum_chars"))
        .withColumn("version", lit(v))
      val out = agg(v2).unionByName(agg(v3))
      // v2 (merge) and v3 (compact) hold identical rows — the compact
      // rewrite and the expiry's reference-counting must both preserve them
      out.select("version", "lang", "n", "sum_chars")
        .orderBy("version", "lang")
    },
      """WITH v2 AS (SELECT doc_id, lang,
        |    CASE WHEN doc_id % 11 = 0 THEN n_chars * 2
        |         ELSE n_chars END AS n_chars
        |  FROM documents),
        |a AS (SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT)
        |        AS sum_chars FROM v2 GROUP BY 1)
        |SELECT CAST(2 AS INT) AS version, lang, n, sum_chars FROM a
        |UNION ALL
        |SELECT CAST(3 AS INT), lang, n, sum_chars FROM a
        |ORDER BY version, lang""".stripMargin),

    // Incrementally maintained Moran's I: v1 counts + CDF delta == v2
    // counts (certified in-query by a bidirectional exceptAll), then the
    // autocorrelation runs on the MAINTAINED counts — the point stream is
    // scanned once per ingest, never re-scanned for the statistic. At
    // 100 TB only the delta side runs; the full recompute here is the
    // certificate, not the scale path.
    Q("q229_incremental_moran", (s, dir) => {
      import graft.table.SnapshotTable
      val root = SparkEntry.scratch(s, s"q229_${Q.nextSeq()}", dir)
      val t = new SnapshotTable(root)
      val pts = Pages.geotag(Pages.pages(s, dir))
        .select(Pages.urlId(col("url")).as("id"),
          (col("x") / 250).cast("long").as("cx"),
          (col("y") / 250).cast("long").as("cy"))
      val base = pts.where(col("id") % 10 =!= 0)
      val late = pts.where(col("id") % 10 === 0)
      val v1 = t.append(base, "pts_v1").version
      val v2 = t.append(late, "pts_v2").version
      val countsV1 = base.groupBy("cx", "cy").agg(count(lit(1)).as("c"))
      val delta = t.changes(s, v1, v2)
        .groupBy("cx", "cy")
        .agg(sum(when(col("_op") === "insert", 1L).otherwise(-1L)).as("d"))
      val maintained = countsV1.join(delta, Seq("cx", "cy"), "full_outer")
        .select(col("cx"), col("cy"),
          (coalesce(col("c"), lit(0L)) + coalesce(col("d"), lit(0L)))
            .as("c"))
        .where(col("c") =!= 0L)
        .transform(graft.spark.PersistTracker.persist)
      val full = t.read(s).groupBy("cx", "cy").agg(count(lit(1)).as("c"))
        .transform(graft.spark.PersistTracker.persist) // two exceptAll sides
      require(maintained.exceptAll(full).isEmpty &&
        full.exceptAll(maintained).isEmpty,
        "maintained counts diverge from full recompute")
      graft.cells.Autocorr.moransIFromCounts(maintained, 32, 32)
    },
      s"""WITH pg AS (${Pages.geotaggedSql}),
         |pts AS (SELECT CAST(floor(x / 250) AS BIGINT) AS cx,
         |               CAST(floor(y / 250) AS BIGINT) AS cy FROM pg),
         |lat AS (SELECT a.g AS cx, b.g AS cy
         |        FROM (SELECT unnest(range(32)) AS g) a,
         |             (SELECT unnest(range(32)) AS g) b),
         |cnt AS (SELECT cx, cy, count(*) AS c FROM pts GROUP BY 1, 2),
         |cells AS (SELECT lat.cx, lat.cy,
         |            CAST(coalesce(cnt.c, 0) AS HUGEINT) AS n
         |          FROM lat LEFT JOIN cnt USING (cx, cy)),
         |tot AS (SELECT CAST(sum(n) AS HUGEINT) AS s,
         |               CAST(count(*) AS HUGEINT) AS nc FROM cells),
         |d AS (SELECT cx, cy, nc * n - s AS d FROM cells, tot),
         |off AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),
         |                              (0,1),(1,-1),(1,0),(1,1)) o(dx, dy)),
         |pairs AS (SELECT a.d AS da, b.d AS db
         |          FROM d a, off, d b
         |          WHERE b.cx = a.cx + off.dx AND b.cy = a.cy + off.dy),
         |agg AS (SELECT CAST(count(*) AS HUGEINT) AS w,
         |               CAST(sum(da * db) AS HUGEINT) AS num FROM pairs),
         |den AS (SELECT CAST(sum(d * d) AS HUGEINT) AS den FROM d)
         |SELECT CAST(nc AS BIGINT) AS n_cells, CAST(w AS BIGINT) AS w_pairs,
         |  CAST(s AS BIGINT) AS n_points,
         |  CAST(CASE WHEN den = 0 OR w = 0 THEN 0
         |       ELSE (1000000 * nc * num) // (w * den) END AS BIGINT)
         |    AS morans_e6
         |FROM tot, agg, den""".stripMargin),

    Q("q234_table_stats", (s, dir) =>
      graft.table.Analyze.columnStats(
        s.read.parquet(s"$dir/documents.parquet"),
        Seq("doc_id", "lang", "text")),
      """SELECT 'doc_id' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_nulls,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS ndv,
        |  CAST(min(doc_id) AS VARCHAR) AS min_s,
        |  CAST(max(doc_id) AS VARCHAR) AS max_s
        |FROM documents
        |UNION ALL
        |SELECT 'lang', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(DISTINCT lang) AS BIGINT),
        |  CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR)
        |FROM documents
        |UNION ALL
        |SELECT 'text', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(DISTINCT text) AS BIGINT),
        |  CAST(min(text) AS VARCHAR), CAST(max(text) AS VARCHAR)
        |FROM documents""".stripMargin),

    // forget user 13: commit the event log, delete the user copy-on-write
    // (only files holding their rows rewrite — require()-gated), then
    // report per-type surviving counts and the CDF-confirmed removals;
    // the oracle recomputes both directly from the raw events
    Q("q282_forget_user", (s, dir) => {
      val t = new graft.table.SnapshotTable(
        SparkEntry.scratch(s, "forget", dir) + "/" +
          java.util.UUID.randomUUID().toString.take(8))
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"), col("event_type"))
        .repartitionByRange(8, col("user_id"), col("event_id"))
      val v1 = t.commit(ev, "append", "events")
      val v2 = t.delete(s, col("user_id") === 13L, "forget-13")
      val reused = v2.files.map(_.path).toSet
        .intersect(v1.files.map(_.path).toSet).size
      require(reused >= 1,
        s"copy-on-write delete rewrote every file ($reused reused)")
      val after = t.read(s).groupBy("event_type")
        .agg(count(lit(1)).as("n_after"))
      val removed = t.changes(s, v1.version, v2.version)
        .where(col("_op") === "delete")
        .groupBy("event_type").agg(count(lit(1)).as("n_removed"))
      after.join(removed, Seq("event_type"), "left")
        .select(col("event_type"), col("n_after"),
          coalesce(col("n_removed"), lit(0L)).as("n_removed"))
    },
      """SELECT event_type,
        |  CAST(sum(CASE WHEN user_id <> 13 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_after,
        |  CAST(sum(CASE WHEN user_id = 13 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_removed
        |FROM events GROUP BY event_type""".stripMargin)
  )
}
