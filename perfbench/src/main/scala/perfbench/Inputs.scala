package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. The same seed always yields the same rows; the
  * program under test only ever sees the generated tables.
  *
  * Everything lives in the program's fixture frame: the 4×4 county tiling of
  * [0,8000)² (`TpchGeo.counties`) and the TEST8 grid of 1000² cells. */
object Inputs {

  /** Page ids of seed s start at offset(s); distinct seeds give disjoint
    * id ranges for any realistic table size, so geotags differ per seed. */
  def pageIdOffset(seed: Long): Long = Math.floorMod(seed, 1000000L) * 10000019L

  private val TextPool = 256

  /** A seeded pool of (k, text, lang): 8–40 words drawn from a seeded
    * 2048-word vocabulary of lowercase pseudo-words. */
  def textPool(seed: Long): IndexedSeq[(Int, String, String)] = {
    val r = new java.util.Random(seed ^ 0x5DEECE66DL)
    val vocab = IndexedSeq.fill(2048) {
      val n = 2 + r.nextInt(9)
      new String(Array.fill(n)(('a' + r.nextInt(26)).toChar))
    }
    val langs = IndexedSeq("en", "en", "en", "de", "fr", "es")
    (0 until TextPool).map { k =>
      val words = IndexedSeq.fill(8 + r.nextInt(33))(vocab(r.nextInt(vocab.size)))
      (k, words.mkString(" "), langs(r.nextInt(langs.size)))
    }
  }

  /** The page table `(url, warc_ts, html, text, lang)` of `n` pages: the url
    * ends in the page id (what `Pages.geotag` parses), html wraps the text. */
  def pages(spark: SparkSession, n: Long, seed: Long, partitions: Int): DataFrame = {
    import spark.implicits._
    val pool = textPool(seed).toDF("k", "text", "lang")
    spark.range(0, n, 1, partitions)
      .select((col("id") + lit(pageIdOffset(seed))).as("pid"))
      .withColumn("k", pmod(xxhash64(col("pid"), lit(seed)), lit(TextPool.toLong)).cast("int"))
      .join(broadcast(pool), "k")
      .select(
        concat(lit("https://host"), (col("pid") % 97).cast("string"),
          lit(".example.org/doc/"), col("pid").cast("string")).as("url"),
        timestamp_seconds(lit(1600000000L) + (col("pid") % 100000000L)).as("warc_ts"),
        encode(concat(lit("<html><body>"), col("text"), lit("</body></html>")),
          "UTF-8").as("html"),
        col("text"), col("lang"))
  }

  /** Pages that geotag onto the fixture frame: the geotag maps id p to
    * ((p·48271) mod 8000, (p·16807) mod 8000) and drops points on a
    * 500-lattice line. Computed here by plain arithmetic, not by Spark. */
  def geotaggedCount(n: Long, seed: Long): Long = {
    val off = pageIdOffset(seed)
    var i = 0L; var c = 0L
    while (i < n) {
      val p = off + i
      if ((p * 48271L) % 8000L % 500L != 0L && (p * 16807L) % 8000L % 500L != 0L) c += 1
      i += 1
    }
    c
  }

  final case class Poly(id: Long, weight: Double, ring: Array[Double])

  /** `m` simple star-shaped polygons with integer vertices: 32–256 vertices
    * at increasing angles around a centre, radii in [R/2, R] for an outer
    * radius R of 600–1500, so each spans several 1000² cells and every
    * polygon lies strictly inside [0,8000)². Weights are integers 1–1000. */
  def polygons(m: Int, seed: Long): IndexedSeq[Poly] = {
    val r = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 0x2545F491L)
    (0 until m).map { i =>
      val v = 32 + r.nextInt(225)
      val rad = 600 + r.nextInt(901)
      val cx = rad + 1 + r.nextInt(8000 - 2 * rad - 2)
      val cy = rad + 1 + r.nextInt(8000 - 2 * rad - 2)
      val pts = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
      var k = 0
      while (k < v) {
        val th = 2 * math.Pi * (k + 0.5 * r.nextDouble()) / v
        val rr = rad * (0.5 + 0.5 * r.nextDouble())
        val p = (math.rint(cx + rr * math.cos(th)), math.rint(cy + rr * math.sin(th)))
        if (pts.isEmpty || pts.last != p) pts += p
        k += 1
      }
      if (pts.length > 1 && pts.head == pts.last) pts.remove(pts.length - 1)
      Poly(i.toLong, (1 + r.nextInt(1000)).toDouble,
        pts.iterator.flatMap { case (x, y) => Iterator(x, y) }.toArray)
    }
  }

  val PolySchema: StructType = StructType(Seq(
    StructField("poly_id", LongType, nullable = false),
    StructField("weight", DoubleType, nullable = false),
    StructField("geom", ArrayType(ArrayType(DoubleType, containsNull = false),
      containsNull = false), nullable = false)))

  /** Weight polygons as `(poly_id, weight, geom)`, geom one outer ring. */
  def polygonTable(spark: SparkSession, polys: Seq[Poly], partitions: Int): DataFrame = {
    val rows = polys.map(p => org.apache.spark.sql.Row(p.id, p.weight, Seq(p.ring.toSeq)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, partitions), PolySchema)
  }

  /** `n` horizontal road segments `(road_id, line)`: integer y off every
    * 1000-lattice line, integer start x, length 512, 1024 or 2048, all
    * inside [0,8000)². */
  def roads(spark: SparkSession, n: Int, seed: Long, partitions: Int): DataFrame = {
    val r = new java.util.Random(seed * 31L + 0x7F4A7C15L)
    val rows = (0 until n).map { i =>
      var y = 1 + r.nextInt(7999)
      while (y % 1000 == 0) y = 1 + r.nextInt(7999)
      val len = 512 << r.nextInt(3)
      val x1 = r.nextInt(8000 - len)
      org.apache.spark.sql.Row(i.toLong, Seq(x1.toDouble, y.toDouble, (x1 + len).toDouble, y.toDouble))
    }
    val schema = StructType(Seq(
      StructField("road_id", LongType, nullable = false),
      StructField("line", ArrayType(DoubleType, containsNull = false), nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, partitions), schema)
  }
}
