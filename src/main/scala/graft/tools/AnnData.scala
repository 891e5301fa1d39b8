package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Synthetic-corpus generator for [[AnnBench]] (the grid and its
 * sub-commands): one synthesis expression, one parquet cache, one
 * generator-fingerprint rule, so every row is measured on
 * bit-identical data.
 *
 * Distributions (see AnnBench's header for the full rationale):
 * `uniform` (i.i.d. coords), `clustered` (64 sign-pattern centers +
 * 0.15 noise), `aniso` (1024 narrow clusters, per-dim decaying
 * residual scales, Hadamard-mixed).
 *
 * Corpora are materialized to parquet and reused ONLY when the
 * generator fingerprint stamp matches — a changed synthesis
 * regenerates instead of silently measuring stale data.
 */
private[tools] object AnnData {
  val GenVer = 2 // bump when any synthesis expression changes

  /** Cache root for corpora, oracles and parked snapshots. */
  val Root = "/tmp/annbench"

  /** H_d/sqrt(d): the orthogonal mixing matrix for the aniso corpus. */
  private def hadamard(d: Int): Array[Array[Double]] = {
    def sign(i: Int, j: Int): Int = Integer.bitCount(i & j) % 2 * -2 + 1
    Array.tabulate(d, d)((i, j) => sign(i, j) / math.sqrt(d))
  }

  def synthCorpus(spark: SparkSession, dist: String, n: Long, d: Int): DataFrame = {
    // per-dist synthesis version: bumping one dist's generator must
    // not force regeneration of the (unchanged) others
    val synthVer = Map("aniso" -> 2).getOrElse(dist, 1)
    val params = s"""{"dist":"$dist","n":$n,"d":$d,"genver":$GenVer,"synth":$synthVer}"""
    val path = s"$Root/${dist}_${n}_d${d}_v${GenVer}s$synthVer.parquet"
    val stamp = new java.io.File(s"$path/_params.json")
    val fresh = new java.io.File(path, "_SUCCESS").exists() &&
      stamp.exists() &&
      new String(java.nio.file.Files.readAllBytes(stamp.toPath), "UTF-8") == params
    if (!fresh) {
      val ids = spark.range(n).select(col("id").as("vec_id"))
      val coords = (0 until d).map { j =>
        val u = (xxhash64(col("vec_id"), lit(j)).cast("double") / lit(Long.MaxValue.toDouble))
        val expr = dist match {
          case "uniform" => u
          case "clustered" =>
            val center = when(
              xxhash64(pmod(col("vec_id"), lit(64L)), lit(j + 1000)) >= 0, 1.0).otherwise(-1.0)
            center + u * lit(0.15)
          case "aniso" =>
            // clustered latent with per-dim DECAYING residual scale
            // (0.5^(j/8): 1 -> ~0.004 across 64 dims) — Hadamard-mixed
            // below so the anisotropy is not axis-aligned
            val center = when(
              xxhash64(pmod(col("vec_id"), lit(1024L)), lit(j + 1000)) >= 0, 1.0).otherwise(-1.0)
            center + u * lit(0.15 * math.pow(0.5, j / 8.0))
        }
        expr.cast("double")
      }
      val latent = ids.select(col("vec_id"), array(coords: _*).as("z"))
      val mixed =
        if (dist == "aniso")
          latent.select(col("vec_id"),
            graft.functions.VectorFunctions.matrixProject(
              col("z"), hadamard(d), new Array[Double](d)).cast("array<float>")
              .as("embedding"))
        else latent.select(col("vec_id"), col("z").cast("array<float>").as("embedding"))
      mixed.write.mode("overwrite").parquet(path)
      java.nio.file.Files.write(stamp.toPath, params.getBytes("UTF-8"))
    }
    spark.read.parquet(path).select("vec_id", "embedding")
  }
}
