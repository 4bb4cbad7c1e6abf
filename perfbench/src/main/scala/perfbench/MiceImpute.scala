package perfbench

import graft.mice.Mice
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `Mice.partitioned` over a table generated from a known linear /
  * categorical model, with three continuous columns and one categorical
  * column masked completely at random. The truth of every masked cell is
  * a function of the row id, so it is recomputed for the quality figures
  * and never reaches the imputer. */
final class MiceImpute(spark: SparkSession, seed: Long, rows: Long, work: String, tr: Tracer) extends Workload {
  val name = "mice_impute"

  /** Per-column missing rate: (1 - p)^4 = 2/3 of rows stay complete. */
  private val MissingRate = 1.0 - math.pow(2.0 / 3.0, 0.25)
  private val Iterations = 5
  private val WarmupCalls = 2
  private val cfg = Mice.Config(
    contCols = Seq("a", "b", "c", "d", "e"), catCols = Seq("g", "h"),
    imputeCont = Seq("c", "d", "e"), imputeCat = Seq("g"),
    iterations = Iterations, stochastic = false, catModel = "lda")
  private val imputed = cfg.imputeCont ++ cfg.imputeCat
  private val maskStream = Map("c" -> 20, "d" -> 21, "e" -> 22, "g" -> 23)

  private val path = s"$work/mice_impute-$seed"
  private var input: DataFrame = _
  private var inputChecksum: Long = 0L

  def params: Map[String, Any] = Map("seed" -> seed, "rows" -> rows, "partitions" -> Gen.Partitions,
    "iterations" -> Iterations, "missing_rate_per_column" -> MissingRate,
    "imputed" -> imputed, "cat_model" -> cfg.catModel, "warmup_calls" -> WarmupCalls)

  // ------------------------------------------------------------ model

  private val id = col("id")
  private def a = Gen.normal(id, seed, 0)
  private def b = Gen.normal(id, seed, 2)
  private def h = Gen.below(id, seed, 12, 5)
  private def missing(c: String): Column = Gen.uniform(id, seed, maskStream(c)) < MissingRate
  /** `df` with the true value of every imputed column, computed in
    * stages so that no generated expression is duplicated. */
  private def withTruth(df: DataFrame): DataFrame = {
    val score = a + b * 0.5 + Gen.normal(id, seed, 4) * 0.6
    df.withColumn("t_a", a).withColumn("t_b", b).withColumn("t_score", score)
      .withColumn("t_g", when(col("t_score") < -0.8, 0).when(col("t_score") < 0.0, 1)
        .when(col("t_score") < 0.8, 2).otherwise(3))
      .withColumn("t_c", lit(1.0) + col("t_a") * 0.8 - col("t_b") * 0.5 + col("t_g") * 0.3 +
        Gen.normal(id, seed, 6) * 0.3)
      .withColumn("t_d", lit(0.5) - col("t_a") * 0.4 + col("t_c") * 0.6 + Gen.normal(id, seed, 8) * 0.3)
      .withColumn("t_e", lit(2.0) + col("t_b") * 0.5 - col("t_d") * 0.3 + col("t_g") * 0.2 +
        Gen.normal(id, seed, 10) * 0.3)
  }

  private def generate(n: Long, p: String): DataFrame = {
    val cols = Seq(id, col("t_a").as("a"), col("t_b").as("b")) ++
      imputed.map(c => when(!missing(c), col(s"t_$c")).as(c)) :+ h.as("h")
    Gen.materialize(withTruth(Gen.ids(spark, n)).select(cols: _*), p)
  }

  /** XOR of a hash over every cell the imputer must leave alone. */
  private def checksum: Column =
    bit_xor(xxhash64(Seq(id, col("a"), col("b"), col("h")) ++
      imputed.map(c => when(!missing(c), col(c))): _*))

  def setup(): Unit = {
    input = generate(rows, path)
    Main.log("data generated")
    // warm-up: full calls over the input (JIT, codegen)
    for (_ <- 1 to WarmupCalls) {
      Workload.dropCheckpoints(imputeAll(new Mice.Timings))
      Main.log("warm-up call done")
    }
  }

  override def prepareChecks(): Unit = inputChecksum = input.agg(checksum).head().getLong(0)

  /** Row count, NULLs, checksum and quality of an imputed output. */
  private def check(out: DataFrame, n: Long, want: Long): (Seq[String], Map[String, Double]) = {
    val truth = (c: String) => col(s"t_$c")
    val aggs = Seq(count(lit(1)), checksum) ++
      imputed.map(c => count(when(col(c).isNull, 1))) ++
      cfg.imputeCont.flatMap(c => Seq(
        sum(when(missing(c), pow(col(c) - truth(c), 2.0))),
        sum(when(missing(c), truth(c))), sum(when(missing(c), pow(truth(c), 2.0))),
        count(when(missing(c), 1)))) ++
      Seq(avg(when(missing("g"), (col("g") === truth("g")).cast("double"))))
    val r = withTruth(out).agg(aggs.head, aggs.tail: _*).head()
    val failures = Seq(
      if (r.getLong(0) != n) Some(s"row count ${r.getLong(0)} != $n") else None,
      if (r.getLong(1) != want) Some("non-imputed cells changed (checksum)") else None) ++
      imputed.indices.map(i =>
        if (r.getLong(2 + i) != 0) Some(s"${r.getLong(2 + i)} NULLs left in ${imputed(i)}") else None)
    val base = 2 + imputed.size
    val nrmse = cfg.imputeCont.indices.map { i =>
      val o = base + 4 * i
      val m = r.getLong(o + 3).toDouble
      val mean = r.getDouble(o + 1) / m
      math.sqrt(r.getDouble(o) / m) / math.sqrt(r.getDouble(o + 2) / m - mean * mean)
    }
    (failures.flatten, Map("impute_nrmse" -> Stats.mean(nrmse),
      "impute_accuracy" -> r.getDouble(base + 4 * cfg.imputeCont.size)))
  }

  // a few long ops, and the JVM still speeds up over the first calls:
  // the figures take the first five of every run
  override def minOps: Int = 5

  /** One full call, its output read once (a no-op sink), so that every
    * generation it builds is paid for inside the call's span. */
  private def imputeAll(tm: Mice.Timings): DataFrame = {
    val out = Mice.partitioned(input, cfg, tm)
    out.write.format("noop").mode("overwrite").save()
    out
  }

  def nextOp(i: Int): Op = new Op {
    val kind = "mice"
    private val tm = new Mice.Timings
    private var out: DataFrame = _
    def run(): Unit = out = tr.span("mice.partitioned")(imputeAll(tm))
    def verify(): OpResult = {
      val (failures, quality) = check(out, rows, inputChecksum)
      Workload.dropCheckpoints(out)
      val ph = tm.totals.toMap
      val layers = ph.map { case (k, v) => s"mice.$k" -> v } ++ Map(
        "agg" -> (ph.getOrElse("cofactor_static", 0.0) + ph.getOrElse("cofactor_delta", 0.0)),
        "ml" -> ph.getOrElse("train", 0.0))
      OpResult(rows, failures, layers = layers, quality = quality)
    }
  }

  def ringInputs(): RingInputs =
    Workload.ringInputs(input.na.drop().select((cfg.contCols ++ cfg.catCols).map(col): _*)
      .limit(4096).collect()
      .map(r => (Array.tabulate(5)(r.getDouble), Array(r.getInt(5), r.getInt(6)))))

  def figures(walls: Seq[Double], results: Seq[OpResult]): Seq[Figure] = Seq(
    Figure("mice_run_s", Stats.median(walls), "s", walls.size),
    Figure("impute_nrmse", Stats.mean(results.map(_.quality("impute_nrmse"))), "ratio", results.size),
    Figure("impute_accuracy", Stats.mean(results.map(_.quality("impute_accuracy"))), "share", results.size))

  override def cleanup(): Unit = Main.deleteTree(path)
}
