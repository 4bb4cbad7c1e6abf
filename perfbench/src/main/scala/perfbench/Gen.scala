package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic data generation. Every generated value is a pure
  * function of (key, seed, stream): a seed gives identical tables on any
  * machine, at any `local[k]`, and the hidden ground truth of a masked
  * cell can be recomputed from the row id instead of being stored. */
object Gen {

  /** Partition count of every generated table, fixed independently of
    * the core count. */
  val Partitions = 8

  private val Two53 = 1L << 53

  /** Uniform in [0, 1) keyed by `key`. */
  def uniform(key: Column, seed: Long, stream: Int): Column =
    pmod(xxhash64(key, lit(seed), lit(stream)), lit(Two53)).cast("double") / lit(Two53.toDouble)

  /** Standard normal keyed by `key` (Box-Muller over streams `stream`
    * and `stream + 1`). */
  def normal(key: Column, seed: Long, stream: Int): Column =
    sqrt(lit(-2.0) * log(lit(1.0) - uniform(key, seed, stream))) *
      cos(lit(2 * math.Pi) * uniform(key, seed, stream + 1))

  /** Integer in [0, n) keyed by `key`. */
  def below(key: Column, seed: Long, stream: Int, n: Int): Column =
    floor(uniform(key, seed, stream) * lit(n.toDouble)).cast("int")

  def ids(spark: SparkSession, n: Long): DataFrame = spark.range(0L, n, 1L, Partitions).toDF()

  /** Writes `df` as parquet (one file per partition) and reads it back. */
  def materialize(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }
}
