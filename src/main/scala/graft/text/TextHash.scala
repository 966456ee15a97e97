package graft.text

import org.apache.spark.sql.functions.udf

/** Deterministic hashing primitives for dedup/fingerprinting — pure Scala,
  * seeded constants, no RNG state. */
object TextHash {

  /** 64-bit avalanche mix (splitmix64 finalizer) — stable across JVMs. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** FNV-1a 64 over UTF-8 bytes. */
  def fnv1a(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes("UTF-8")
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Distinct hashed word n-gram shingles of a doc (sorted for
    * determinism). Hash values are fnv1a over the gram's UTF-8 bytes —
    * computed over the TEXT's byte spans in place (a space-joined n-gram
    * of a space-split text is a contiguous substring, so the bytes are
    * identical) rather than by materializing each gram string: the
    * string-building form this replaced allocated ~20 KB/doc and was the
    * dominant allocation of every shingle consumer (MinHash, PPJoin,
    * SimHash); hash values are UNCHANGED (ShingleSpanSpec). */
  def shingleHashes(text: String, n: Int): Array[Long] = {
    val bytes = text.getBytes("UTF-8")
    var nTok = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == 0x20) nTok += 1; i += 1 }
    if (nTok < n) return Array.emptyLongArray
    val starts = new Array[Int](nTok)
    var t = 1
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == 0x20) { starts(t) = i + 1; t += 1 }
      i += 1
    }
    val set = new java.util.TreeSet[java.lang.Long]()
    var g = 0
    while (g <= nTok - n) {
      val from = starts(g)
      val until = if (g + n < nTok) starts(g + n) - 1 else bytes.length
      var h = 0xcbf29ce484222325L
      i = from
      while (i < until) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
      set.add(h)
      g += 1
    }
    val out = new Array[Long](set.size)
    val it = set.iterator(); var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    out
  }

  def shingleHashSetUdf(n: Int) = udf((text: String) => shingleHashes(text, n))

  /** MinHash signature: sig(i) = min over shingles of mix64(shingle ^ seed_i).
    * Doc-local, O(shingles × numHashes). */
  def minhashSignature(text: String, n: Int, numHashes: Int): Array[Long] = {
    val shs = shingleHashes(text, n)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var s = 0
    while (s < shs.length) {
      var i = 0
      while (i < numHashes) {
        val h = mix64(shs(s) ^ (0x5851f42d4c957f2dL * (i + 1)))
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      s += 1
    }
    sig
  }

  /** One key per band: mix of band index + the band's signature rows. */
  def bandKeys(sig: Array[Long], bands: Int, rows: Int): Array[Long] = {
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = mix64(b.toLong + 0x9e3779b9L)
      var r = 0
      while (r < rows) { h = mix64(h ^ sig(b * rows + r)); r += 1 }
      out(b) = h
      b += 1
    }
    out
  }

  /** Exact Jaccard of two sorted distinct hash arrays (merge intersect). */
  val jaccardUdf = udf((a: Seq[Long], b: Seq[Long]) => {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      val x = a(i); val y = b(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (a.length + b.length - inter).toDouble
  })

  /** Hot-path twin of [[jaccardUdf]] for the candidate-verification joins:
    * the same merge-intersect arithmetic (bit-identical doubles), but
    *
    *   - primitive `Array[Long]` parameters — Spark feeds the unsafe array
    *     through `toLongArray()` with zero per-element boxing, where the
    *     `Seq[Long]` form boxes every element of both arrays per call
    *     (measured dominant in the 520k-candidate PPJoin verify pass);
    *   - marked non-deterministic — an optimizer fence (optimization guide
    *     §4.4): the deterministic form gets pushed INTO the verify join's
    *     condition AND re-evaluated in the project above it, paying the
    *     merge twice per candidate row. The function is pure; only the
    *     optimizer's freedom to duplicate/push it changes.
    */
  val jaccardVerifyUdf = udf((a: Array[Long], b: Array[Long]) => {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      val x = a(i); val y = b(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (a.length + b.length - inter).toDouble
  }).asNondeterministic()

  /** Exact overlap |A∩B| of two sorted distinct hash arrays — the
    * containment-join verifier. Same primitive-array + non-deterministic
    * (single-evaluation fence) discipline as [[jaccardVerifyUdf]]. */
  val overlapVerifyUdf = udf((a: Array[Long], b: Array[Long]) => {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      val x = a(i); val y = b(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter
  }).asNondeterministic()

  /** 64-bit SimHash over hashed shingles. */
  def simhash(text: String, n: Int): Long = {
    val shs = shingleHashes(text, n)
    val acc = new Array[Int](64)
    var s = 0
    while (s < shs.length) {
      val h = shs(s)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
      s += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Split a 64-bit hash into `tables` bit-slices that PARTITION all 64
    * bits (first `64 % tables` slices are one bit wider), keyed by slice
    * index (pigeonhole LSH for hamming search): any two hashes with
    * hamming distance ≤ tables-1 share at least one identical slice. */
  def bitSlices(h: Long, tables: Int): Array[Long] = {
    val base = 64 / tables
    val extra = 64 % tables
    val out = new Array[Long](tables)
    var start = 0
    var t = 0
    while (t < tables) {
      val width = if (t < extra) base + 1 else base
      val mask = if (width == 64) -1L else (1L << width) - 1
      // mix the slice index in so equal slice VALUES in different slice
      // POSITIONS never produce the same key
      out(t) = mix64(((h >>> start) & mask) ^ mix64(t.toLong + 0x51ce5L))
      start += width
      t += 1
    }
    out
  }

  // --------------------------------------------------- span n-gram hashes

  private def fnv1aRange(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Second 64-bit stream for the 128-bit gram identity: a Murmur3-style
    * rotate-multiply recurrence (k·C₁ rotl31 ⊕, rotl27·5+C₂ per byte,
    * length folded into the finalizer) — STRUCTURALLY unrelated to
    * FNV-1a's xor-then-multiply, so a pair of grams colliding in one
    * stream has no correlated mechanism to collide in the other. Paired
    * with `fnv1a` this gives an effective-128-bit identity whose
    * collision probability at web scale (~1e13 grams vs 1e6 benchmark
    * grams) is ~1e-19 — the md5-exact-dedup argument
    * (TextOps.exactDedupGroups). */
  private def murmurRange(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = 0x87c37b91114253d5L
    var i = from
    while (i < until) {
      var k = (bytes(i) & 0xffL) * 0xff51afd7ed558ccdL
      k = java.lang.Long.rotateLeft(k, 31)
      h ^= k
      h = java.lang.Long.rotateLeft(h, 27) * 5L + 0x52dce729L
      i += 1
    }
    mix64(h ^ (until - from).toLong)
  }

  /** Distinct 128-bit hashes of every word n-gram of `text`, computed over
    * the text's UTF-8 byte SPANS in place: with a single-space tokenizer,
    * gram i is exactly the substring from token i's first byte to token
    * i+n-1's last byte, so no gram string (or token array) is ever
    * allocated — the dominant allocation cost of shingle-explosion passes
    * at crawl scale (measured: the string path allocates ~20 KB/doc).
    * Returns packed (h1, h2) pairs, h1 = fnv1a, h2 = the alternate-basis
    * stream, over the same bytes `hashNgram` hashes for a gram STRING —
    * span and string agree byte-for-byte, including empty tokens from
    * repeated separators. */
  def spanNgramHashes(text: String, n: Int): Array[Array[Long]] = {
    val bytes = text.getBytes("UTF-8")
    // token start offsets: 0 and every byte after a 0x20 separator
    // (UTF-8 guarantees 0x20 never appears inside a multi-byte sequence)
    var nTok = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == 0x20) nTok += 1; i += 1 }
    if (nTok < n) return Array.empty
    val starts = new Array[Int](nTok)
    var t = 1
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == 0x20) { starts(t) = i + 1; t += 1 }
      i += 1
    }
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new java.util.ArrayList[Array[Long]]()
    var g = 0
    while (g <= nTok - n) {
      val from = starts(g)
      val until = if (g + n < nTok) starts(g + n) - 1 else bytes.length
      val h1 = fnv1aRange(bytes, from, until)
      val h2 = murmurRange(bytes, from, until)
      // distinctness keyed on a 64-bit mix of the pair: a set-key
      // collision (≈2⁻⁶⁴ per within-doc gram pair) would drop one
      // distinct gram from one doc — the same negligible-and-bounded
      // class as the md5 dedup argument, never an invented gram
      if (seen.add(mix64(h1) ^ h2)) out.add(Array(h1, h2))
      g += 1
    }
    out.toArray(new Array[Array[Long]](out.size))
  }

  /** The (h1, h2) identity of one gram STRING — the benchmark-side twin of
    * `spanNgramHashes` (hashes the same bytes a doc-side span hashes). */
  def ngramHashPair(gram: String): Array[Long] = {
    val b = gram.getBytes("UTF-8")
    Array(fnv1aRange(b, 0, b.length), murmurRange(b, 0, b.length))
  }

  /** Immutable sorted set of (h1, h2) gram identities with EXACT 128-bit
    * membership (binary search over two parallel long arrays — ~16 bytes
    * per gram, cache-friendly, cheap to ship in a task closure). */
  final class PairSet private[TextHash] (h1s: Array[Long], h2s: Array[Long])
      extends Serializable {
    def size: Int = h1s.length
    def contains(a: Long, b: Long): Boolean = {
      var lo = 0
      var hi = h1s.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        val c = java.lang.Long.compare(h1s(mid), a)
        val cc = if (c != 0) c else java.lang.Long.compare(h2s(mid), b)
        if (cc < 0) lo = mid + 1 else hi = mid
      }
      lo < h1s.length && h1s(lo) == a && h2s(lo) == b
    }
  }

  object PairSet {
    def apply(pairs: Array[Array[Long]]): PairSet = {
      val sorted = pairs.sortWith { (x, y) =>
        if (x(0) != y(0)) x(0) < y(0) else x(1) < y(1)
      }
      new PairSet(sorted.map(_(0)), sorted.map(_(1)))
    }
  }

  /** Count the DISTINCT span n-grams of `text` present in `set` — the
    * doc-local decontamination probe. Same span walk (and hash bytes) as
    * `spanNgramHashes`, but nothing is collected: misses allocate NOTHING
    * (the distinctness set only ever holds hits, which are rare on a
    * clean corpus), so the per-doc cost is the two hash streams plus one
    * binary search per gram. */
  def spanHitCount(text: String, n: Int, set: PairSet): Long = {
    val bytes = text.getBytes("UTF-8")
    var nTok = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == 0x20) nTok += 1; i += 1 }
    if (nTok < n) return 0L
    val starts = new Array[Int](nTok)
    var t = 1
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == 0x20) { starts(t) = i + 1; t += 1 }
      i += 1
    }
    var seen: java.util.HashSet[java.lang.Long] = null
    var hits = 0L
    var g = 0
    while (g <= nTok - n) {
      val from = starts(g)
      val until = if (g + n < nTok) starts(g + n) - 1 else bytes.length
      val h1 = fnv1aRange(bytes, from, until)
      val h2 = murmurRange(bytes, from, until)
      if (set.contains(h1, h2)) {
        if (seen == null) seen = new java.util.HashSet[java.lang.Long]()
        // same distinct-by-64-bit-mix rule as spanNgramHashes
        if (seen.add(mix64(h1) ^ h2)) hits += 1
      }
      g += 1
    }
    hits
  }
}
