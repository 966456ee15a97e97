package graft.cli

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** diffsurr driver contract (diffsurr.c:45-234): exit codes, message
  * shapes, and the small-value resynchronization of the merge walk. */
class DiffSurrSpec extends AnyFunSuite {

  private def srgFile(lines: String*): String = {
    val p = graft.Scratch.dir("diffsurr").resolve("diffsurr.txt")
    Files.write(p, (("#GRID\tTEST\t0\t0\t1\t1\t4\t4\t1\t2\t3\t4\t5\t6\t7" +: lines)
      .mkString("\n") + "\n").getBytes("UTF-8"))
    p.toString
  }

  private def run(a: String, b: String, tol: String = "0.0001",
                  cat1: String = "100", cat2: String = "100") =
    DiffSurr.run(Array(a, cat1, b, cat2, tol), "diffsurr")

  test("identical files compare successful, exit 0") {
    val f = srgFile("100\t37001\t1\t1\t0.500000",
                    "100\t37001\t2\t1\t0.500000")
    val o = run(f, f)
    assert(o.exitCode === 0)
    assert(o.out.exists(_.contains("The surrogate comparison was successful!")))
    assert(o.out.exists(_.contains("Read 2 entries for category 100")))
  }

  test("injected fraction discrepancy: message shape, diff count, exit 4") {
    val a = srgFile("100\t37001\t1\t1\t0.500000", "100\t37001\t2\t1\t0.250000")
    val b = srgFile("100\t37001\t1\t1\t0.500000", "100\t37001\t2\t1\t0.260000")
    val o = run(a, b)
    assert(o.exitCode === 4)
    assert(o.out.exists(_.startsWith(
      "Fractions differ for 37001, 2, 1: 0.250000 vs 0.260000")))
    assert(o.err.exists(_.contains("1 total differences out of 2 possible")))
    assert(o.err.exists(_.contains(
      "The surrogate values differ for categories 100 and 100")))
  }

  test("fraction difference within tolerance passes") {
    val a = srgFile("100\t37001\t1\t1\t0.250000")
    val b = srgFile("100\t37001\t1\t1\t0.250050")
    assert(run(a, b, tol = "0.001").exitCode === 0)
  }

  test("empty category: exit 1 for file1, exit 2 for file2") {
    val a = srgFile("100\t37001\t1\t1\t0.5")
    val b = srgFile("200\t37001\t1\t1\t0.5")
    assert(run(b, a, cat1 = "100").exitCode === 1)   // file1 lacks cat 100
    val o = run(a, b, cat2 = "100")                  // file2 lacks cat 100
    assert(o.exitCode === 2)
    assert(o.err.exists(_.contains("No surrogate entries for category 100")))
  }

  test("unreadable file and short line fail with exit 1") {
    val a = srgFile("100\t37001\t1\t1\t0.5")
    assert(run("/nonexistent/srg.txt", a).exitCode === 1)
    val bad = srgFile("100\t37001\t1")
    val o = run(a, bad)
    assert(o.exitCode === 1)
    assert(o.err.exists(_.contains("Failed to read the five required values")))
  }

  test("resync skips entries at or below the tolerance when keys drift") {
    // file A carries an extra tiny-fraction county absent from B: the C
    // walk skips it (frac <= eps) and the rest still compares clean
    val a = srgFile("100\t37001\t1\t1\t0.00005",
                    "100\t37002\t1\t1\t0.500000")
    val b = srgFile("100\t37002\t1\t1\t0.500000")
    val o = run(a, b)
    assert(o.exitCode === 0)
    assert(o.out.exists(_.contains("County mismatch: Skipping small value")))
  }

  test("non-small key divergence stops the walk: County IDs differ, exit 4") {
    val a = srgFile("100\t37001\t1\t1\t0.400000")
    val b = srgFile("100\t37009\t1\t1\t0.400000")
    val o = run(a, b)
    assert(o.exitCode === 4)
    assert(o.out.exists(_.startsWith("County IDs differ: 37001 1 1 0.400000")))
    assert(o.err.exists(_.contains(
      "Comparison stopped because ID or grid cell differed")))
  }

  test("usage error: wrong arg count exits 1") {
    assert(DiffSurr.run(Array("onlyone"), "diffsurr").exitCode === 1)
  }

  test("non-numeric args follow atoi/atof semantics, not a stack trace") {
    val a = srgFile("100\t37001\t1\t1\t0.5")
    // category 'abc' → atoi 0 → no entries for category 0 → exit 1
    val o = run(a, a, cat1 = "abc")
    assert(o.exitCode === 1)
    assert(o.err.exists(_.contains("No surrogate entries for category 0")))
    // junk tolerance → atof 0.0; equal files still compare clean
    assert(run(a, a, tol = "junk").exitCode === 0)
    // leading numeric prefix parses like C atoi ("100x" → 100)
    assert(run(a, a, cat1 = "100x", cat2 = "100").exitCode === 0)
    assert(DiffSurr.atoi("  -42abc") === -42)
    assert(DiffSurr.atof("2.5e-3xyz") === 0.0025f)
    assert(DiffSurr.atof(".5") === 0.5f)
  }
}
