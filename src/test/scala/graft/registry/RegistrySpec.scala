package graft.registry

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkEntry

/** Guards the driver contract the registries declare: the query names and
  * every oracle's SQL text are pinned by digest, and each name is declared
  * exactly once. Needs no SparkSession: oracle SQL is plain strings. */
class RegistrySpec extends AnyFunSuite {

  // SHA-256 of the sorted (name, oracle SQL) pairs and of the sorted
  // names, as the contract stood before the registries were split by
  // domain. A change here means a query or its oracle changed.
  private val OracleDigest =
    "3cfce0f69d1493ed22b54ea9640ff185ceea86727fe88b6bc62e0079fb99af75"
  private val NamesDigest =
    "bb6b722c55483418feb0af336440bb419b4cc87cd3fc8263364d26fce89205e2"

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map("%02x".format(_)).mkString

  test("oracle SQL and query names match their pinned digests") {
    val pairs = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => k + "\u0000" + v }.mkString("\u0001")
    assert(sha256(pairs) == OracleDigest)
    assert(sha256(SparkEntry.queries.keySet.toSeq.sorted.mkString("\n")) ==
      NamesDigest)
    assert(SparkEntry.queries.size == 309)
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  test("a name declared twice fails at registry construction") {
    val q = Q("q_dup", (s, _) => s.emptyDataFrame, "SELECT 1")
    val e = intercept[IllegalArgumentException](
      Q.index(Seq(q, Q("q_other", q.build, "SELECT 2"), q.copy(oracleSql = "SELECT 3"))))
    assert(e.getMessage.contains("q_dup"))
    assert(Q.index(Seq(q)).keySet == Set("q_dup"))
  }
}
