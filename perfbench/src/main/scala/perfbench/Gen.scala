package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** Point distribution of a generated data set. */
sealed trait Shape
/** The reference study's data: integers uniform in [0, 1e9]. */
case object Uniform extends Shape
/** Anti-correlated points (Börzsönyi, Kossmann and Stocker, ICDE 2001):
  * points scattered around the plane where the coordinates sum to d/2,
  * so most of them sit on or near the Pareto frontier. */
case object AntiCorrelated extends Shape

/** A generated point set of `n` rows in `d` integer columns x1..xd, written
  * as `files` parquet files. Row i of file p is a pure function of the seed,
  * the set's `tag`, p and i, so the driver can regenerate any file to build
  * an oracle without reading the parquet back. */
final case class PointSet(tag: String, shape: Shape, d: Int, n: Int, files: Int) {
  def cols: Seq[String] = (1 to d).map(i => s"x$i")
  def schema: StructType = StructType(cols.map(StructField(_, IntegerType, nullable = false)))
  def rowsIn(file: Int): Int = n / files + (if (file < n % files) 1 else 0)
}

object Gen {
  val Domain = 1000000000

  private def streamSeed(seed: Long, tag: String, file: Int): Long = {
    var h = seed * 0x9E3779B97F4A7C15L ^ tag.hashCode.toLong * 0xC2B2AE3D27D4EB4FL
    h ^= file.toLong * 0x165667B19E3779F9L
    h ^= h >>> 31; h *= 0xBF58476D1CE4E5B9L; h ^= h >>> 29
    h
  }

  /** The points of one file, in file order. */
  def filePoints(set: PointSet, seed: Long, file: Int): Iterator[Array[Int]] = {
    val rng = new SplittableRandom(streamSeed(seed, set.tag, file))
    Iterator.fill(set.rowsIn(file))(set.shape match {
      case Uniform => Array.fill(set.d)(rng.nextInt(Domain + 1))
      case AntiCorrelated => anti(rng, set.d)
    })
  }

  def points(set: PointSet, seed: Long): Iterator[Array[Int]] =
    (0 until set.files).iterator.flatMap(filePoints(set, seed, _))

  /** One anti-correlated point: start on the diagonal at a height v drawn,
    * as in the original generator, as the mean of 12 uniforms scaled to
    * [0.25, 0.75] (a narrow peak around 0.5), then shift mass between
    * neighbouring coordinates by up to the distance to the cube's surface;
    * retry until the point lies inside the unit cube. */
  private def anti(rng: SplittableRandom, d: Int): Array[Int] = {
    val x = new Array[Double](d)
    var ok = false
    while (!ok) {
      var u = 0.0
      for (_ <- 1 to 12) u += rng.nextDouble()
      val v = 0.25 + 0.5 * u / 12
      val l = if (v <= 0.5) v else 1.0 - v
      java.util.Arrays.fill(x, v)
      var i = 0
      while (i < d) {
        val h = -l + 2 * l * rng.nextDouble()
        x(i) += h
        x((i + 1) % d) -= h
        i += 1
      }
      ok = v >= 0 && v <= 1 && x.forall(c => c >= 0 && c <= 1)
    }
    x.map(c => math.round(c * Domain).toInt)
  }

  /** Writes the set as `set.files` parquet files under `path`. */
  def write(spark: SparkSession, set: PointSet, seed: Long, path: String): Unit = {
    val rdd = spark.sparkContext.parallelize(0 until set.files, set.files)
      .mapPartitions(_.flatMap(f => filePoints(set, seed, f)).map(a => Row.fromSeq(a.toSeq)))
    spark.createDataFrame(rdd, set.schema).write.parquet(path)
  }

  def toDoubles(p: Array[Int]): Array[Double] = p.map(_.toDouble)
}
