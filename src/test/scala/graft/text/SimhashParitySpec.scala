package graft.text

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.fixtures.TextFixtures

/** Proves the simhash LSH candidate generation is COMPLETE for its verify
  * threshold: with tables = maxHamming + 1 disjoint bit-slices, the bucketed
  * pair set must equal the brute-force all-pairs hamming join exactly.
  * (q16 is rows-only in the driver — this spec is its correctness gate.) */
class SimhashParitySpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = graft.TestData.sf("0.001")
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false").appName("simhash-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("bitSlices partition all 64 bits and pigeonhole holds at hamming <= tables-1") {
    // deterministic pseudo-random pairs: flip d <= 8 bits of a base hash
    var seed = 0x1234abcdL
    def next(): Long = { seed = TextHash.mix64(seed); seed }
    for (_ <- 1 to 500) {
      val a = next()
      val d = (math.abs(next()) % 9).toInt // 0..8 flipped bits
      var b = a
      var flipped = Set.empty[Int]
      while (flipped.size < d) flipped += (math.abs(next()) % 64).toInt
      flipped.foreach(bit => b ^= (1L << bit))
      val sa = TextHash.bitSlices(a, 9)
      val sb = TextHash.bitSlices(b, 9)
      assert(sa.zip(sb).exists { case (x, y) => x == y },
        s"hamming=$d pair shares no slice: a=$a b=$b")
    }
  }

  test("simhashPairs == brute-force hamming join on the near-dup corpus") {
    val corpus = TextFixtures.nearDupCorpus(spark, sfDir, " graftmark")
    val lsh = TextOps.simhashPairs(corpus, "doc_id", "text",
        n = 3, maxHamming = 8, tables = 9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    val docs = corpus.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), TextHash.simhash(r.getString(1), 3)))
    val brute = (for {
      (ia, ha) <- docs; (ib, hb) <- docs if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 8
    } yield (ia, ib, d)).toSet

    assert(brute.nonEmpty, "fixture produced no near-dup pairs — test vacuous")
    assert(lsh == brute,
      s"missed=${(brute -- lsh).take(5)} extra=${(lsh -- brute).take(5)}")
  }

  test("simhashPairs rejects a recall-incomplete configuration") {
    val corpus = TextFixtures.nearDupCorpus(spark, sfDir, " graftmark")
    intercept[IllegalArgumentException] {
      TextOps.simhashPairs(corpus, "doc_id", "text", maxHamming = 8, tables = 4)
    }
  }
}
