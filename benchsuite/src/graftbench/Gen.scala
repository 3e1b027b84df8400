package graftbench

import java.io.File
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generation. Every table is generated on the driver from
  * the seed alone and written as parquet with a fixed file count, so the
  * same seed gives byte-identical files whatever the core count. The
  * program under test only ever reads these files. */
object Gen {
  val Files = 4

  final class Rng(seed: Long) {
    private val r = new SplittableRandom(seed)
    def uniform(lo: Double, hi: Double): Double = lo + (hi - lo) * r.nextDouble()
    def int(n: Int): Int = r.nextInt(n)
    def double(): Double = r.nextDouble()
    def gaussian(): Double = {
      // Box-Muller on the seeded stream (SplittableRandom has none)
      val u1 = math.max(r.nextDouble(), 1e-300)
      val u2 = r.nextDouble()
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    }
    def logUniform(lo: Double, hi: Double): Double =
      math.exp(uniform(math.log(lo), math.log(hi)))
    def shuffle[A](xs: ArrayBuffer[A]): Unit = {
      var i = xs.length - 1
      while (i > 0) {
        val j = r.nextInt(i + 1)
        val t = xs(i); xs(i) = xs(j); xs(j) = t
        i -= 1
      }
    }
  }

  /** Zipf(s) sampler over ranks 0 until n by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def sample(rng: Rng): Int = {
      val u = rng.double()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  def write(spark: SparkSession, rows: Seq[Row], schema: StructType, path: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, Files), schema)
      .write.mode("overwrite").parquet(path)

  /** SHA-256 over the data files of each table, in file-name order. */
  def checksum(paths: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    paths.foreach { p =>
      val files = Option(new File(p).listFiles()).getOrElse(Array.empty[File])
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        // the writer's job id sits after the part index; sort on the index
        .sortBy(_.getName.take(10))
      files.foreach(f => md.update(java.nio.file.Files.readAllBytes(f.toPath)))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  val pointSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("x", DoubleType, nullable = false),
    StructField("y", DoubleType, nullable = false)))

  val Extent = 10000.0

  /** Uniform points mixed with Gaussian clusters; `clustered` of every
    * `n` rows fall in `clusters` clusters of spread `sigma`. */
  def mixedPoints(rng: Rng, n: Int, firstId: Long, clusteredShare: Double,
                  clusters: Int, sigma: Double): Array[(Long, Double, Double)] = {
    val centers = Array.fill(clusters)((rng.uniform(1000, 9000), rng.uniform(1000, 9000)))
    Array.tabulate(n) { i =>
      val (x, y) =
        if (rng.double() < clusteredShare) {
          val (cx, cy) = centers(rng.int(clusters))
          (clamp(cx + sigma * rng.gaussian()), clamp(cy + sigma * rng.gaussian()))
        } else (rng.uniform(0, Extent), rng.uniform(0, Extent))
      (firstId + i, x, y)
    }
  }

  def clamp(v: Double): Double = math.min(Extent, math.max(0.0, v))

  def pointRows(pts: Array[(Long, Double, Double)]): Seq[Row] =
    pts.toSeq.map { case (i, x, y) => Row(i, x, y) }

  val shapeType: StructType = StructType(Seq(
    StructField("tag", IntegerType, nullable = false),
    StructField("coords", ArrayType(DoubleType, containsNull = false), nullable = false)))

  /** Synthetic vocabulary: rank i maps to a pronounceable lower-case
    * word, distinct per rank. */
  def word(i: Int): String = {
    val cons = "bcdfghklmnprstvz"
    val vow = "aeiou"
    val sb = new StringBuilder
    var v = i + 1
    while (v > 0) {
      sb.append(cons.charAt(v % cons.length)).append(vow.charAt((v / cons.length) % vow.length))
      v /= cons.length * vow.length
    }
    sb.toString
  }
}
