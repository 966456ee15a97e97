package graft.text

import org.scalatest.funsuite.AnyFunSuite

/** Span hashes must equal gram-string hashes exactly: span bytes and
  * gram-string bytes are the same bytes, including empty tokens from
  * repeated separators and multi-byte UTF-8. `buildEvalSet` hashes gram
  * strings and the doc-side probe of `decontaminateSetWith` hashes spans,
  * so their hits rest on this identity. */
class DecontaminateHashedSpec extends AnyFunSuite {

  test("span hashes equal gram-string hashes, with repeated separators and UTF-8") {
    val texts = Seq(
      "a b c d e",
      "a  b c d e",          // empty token from the double space
      " lead and trail ",    // empty first/last tokens
      "ünï b c 多字节 e x")
    for (t <- texts; n <- Seq(2, 3)) {
      val spans = TextHash.spanNgramHashes(t, n).map(_.toSeq).toSet
      val ws = t.split(" ", -1)
      val strings = (0 to ws.length - n)
        .map(i => ws.slice(i, i + n).mkString(" ")).distinct
        .map(g => TextHash.ngramHashPair(g).toSeq).toSet
      assert(spans == strings, s"mismatch for '$t' n=$n")
    }
    // below-n texts produce nothing
    assert(TextHash.spanNgramHashes("one two", 3).isEmpty)
  }
}
