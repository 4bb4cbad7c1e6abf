package perfbench

import graft.Graft
import graft.mice.{Mice, MiceJoin}
import graft.ml.{Factorized, LinReg}
import graft.ml.Factorized.StarDim
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A fact table joined to a unique dimension `dim_u` (folded into the
  * fact by the adaptive probe) and a multiplicative one `dim_m`
  * (aggregated, so the join runs through the ring product). Each cycle
  * rewrites `dim_u` to a fresh path, trains over the star three times
  * (the first call misses the probe memo, the others hit it) and runs a
  * chained imputation over fact ⋈ `dim_u`, whose unique-key probe misses
  * on every new version. */
final class StarRefresh(spark: SparkSession, seed: Long, factRows: Long, uKeys: Int, mKeys: Int,
                        work: String, tr: Tracer, corruptFirst: Boolean) extends Workload {
  val name = "star_refresh"

  private val MRowsPerKey = 8
  private val MissingRate = 0.2
  private val factNum = Seq("f1", "f2", "f3")
  private val dimUNum = Seq("u1", "u2")
  private val dimMNum = Seq("m1", "m2")
  private val label = 2 // f3
  private val Trains = 3
  private val chainCfg = MiceJoin.ChainConfig(factNum = factNum, factCat = Seq(), dimNum = dimUNum,
    imputeCont = Seq("f3"), iterations = 1)

  private val path = s"$work/star_refresh-$seed"
  private var fact: DataFrame = _
  private var dimM: DataFrame = _
  private var dimU: DataFrame = _
  private var version = 0
  private var factChecksum = 0L

  def params: Map[String, Any] = Map("seed" -> seed, "fact_rows" -> factRows, "dim_u_keys" -> uKeys,
    "dim_m_keys" -> mKeys, "dim_m_rows_per_key" -> MRowsPerKey, "partitions" -> Gen.Partitions,
    "trains_per_cycle" -> Trains, "chain_iterations" -> chainCfg.iterations,
    "f3_missing_rate" -> MissingRate)

  // ------------------------------------------------------------ model

  private val id = col("id")
  private def u1(key: Column) = Gen.normal(key, seed, 100)
  private def f3True = lit(0.5) + Gen.normal(id, seed, 2) * 0.7 - Gen.normal(id, seed, 4) * 0.4 +
    u1(Gen.below(id, seed, 0, uKeys)) * 0.8 + Gen.normal(id, seed, 6) * 0.3
  private def missing = Gen.uniform(id, seed, 8) < MissingRate

  private def dims: Seq[StarDim] = Seq(StarDim(dimU, "ku", dimUNum), StarDim(dimM, "km", dimMNum))

  private def writeDimU(v: Int): DataFrame = {
    val ku = id.cast("int")
    Gen.materialize(Gen.ids(spark, uKeys).select(ku.as("ku"), u1(ku).as("u1"),
      Gen.normal(ku, seed + v, 102).as("u2")), s"$path/dim_u/v$v")
  }

  private def checksum: Column =
    bit_xor(xxhash64(id, col("ku"), col("km"), col("f1"), col("f2"), when(!missing, col("f3"))))

  def setup(): Unit = {
    fact = Gen.materialize(Gen.ids(spark, factRows).select(id,
      Gen.below(id, seed, 0, uKeys).as("ku"), Gen.below(id, seed, 1, mKeys).as("km"),
      Gen.normal(id, seed, 2).as("f1"), Gen.normal(id, seed, 4).as("f2"),
      when(!missing, f3True).as("f3")), s"$path/fact")
    dimM = Gen.materialize(Gen.ids(spark, mKeys.toLong * MRowsPerKey).select(
      (id / MRowsPerKey).cast("int").as("km"),
      Gen.normal(id, seed, 200).as("m1"), Gen.normal(id, seed, 202).as("m2")), s"$path/dim_m")
    Main.log("data generated")
    val warm = nextOp(-1) // one full cycle: JIT, codegen and the static dim's probe memo
    warm.run()
    Main.log("warm-up cycle ran")
    warm.verify()
  }

  override def prepareChecks(): Unit = factChecksum = fact.agg(checksum).head().getLong(0)

  private def routingOk: Boolean = Factorized.lastStarRouting() == (Seq("km"), Seq("ku"))

  // a few long ops, and the JVM still speeds up over the first calls:
  // the figures take the first three of every run
  override def minOps: Int = 3

  def nextOp(i: Int): Op = new Op {
    val kind = "cycle"
    private val tm = new Mice.Timings
    private val trainS = scala.collection.mutable.ArrayBuffer[Double]()
    private val models = scala.collection.mutable.ArrayBuffer[LinReg.Model]()
    private val routes = scala.collection.mutable.ArrayBuffer[Boolean]()
    private var refreshS = 0.0
    private var out: DataFrame = _
    private val prevPath = s"$path/dim_u/v$version"

    def run(): Unit = {
      val t0 = System.nanoTime()
      version += 1
      dimU = tr.span("io.refresh")(writeDimU(version))
      refreshS = (System.nanoTime() - t0) / 1e9
      for (k <- 0 until Trains) {
        val s = System.nanoTime()
        models += tr.span(if (k == 0) "factorized.train_cold" else "factorized.train_warm")(
          Factorized.linRegOverStar(fact, factNum, Seq(), dims, label))
        trainS += (System.nanoTime() - s) / 1e9
        routes += routingOk
      }
      out = tr.span("mice.join.imputeChainedOverJoin") {
        val o = MiceJoin.imputeChainedOverJoin(fact, dimU, "ku", chainCfg, tm)
        o.write.format("noop").mode("overwrite").save()
        o
      }
    }

    def verify(): OpResult = {
      val r = out.agg(count(lit(1)), checksum, count(when(col("f3").isNull, 1)),
        sum(when(missing, pow(col("f3") - f3True, 2.0))), sum(when(missing, f3True)),
        sum(when(missing, pow(f3True, 2.0))), count(when(missing, 1))).head()
      Workload.dropCheckpoints(out)
      Main.deleteTree(prevPath)
      val m = r.getLong(6).toDouble
      val mean = r.getDouble(4) / m
      val nrmse = math.sqrt(r.getDouble(3) / m) / math.sqrt(r.getDouble(5) / m - mean * mean)
      val same = models.forall(x => sameModel(x, models.head))
      val failures = Seq(
        if (routes.forall(identity)) None
        else Some(s"star routing ${Factorized.lastStarRouting()} != (aggregated [km], folded [ku])"),
        if (same) None else Some("repeated trainings over one star disagree"),
        if (r.getLong(0) != factRows) Some(s"chain output has ${r.getLong(0)} rows, not $factRows") else None,
        if (r.getLong(1) != factChecksum) Some("non-imputed cells changed (checksum)") else None,
        if (r.getLong(2) != 0) Some(s"${r.getLong(2)} NULLs left in f3") else None).flatten
      val ph = tm.totals.toMap
      val layers = ph.map { case (k, v) => s"mice.join.$k" -> v } ++ Map(
        "agg" -> (trainS.sum + ph.getOrElse("cofactor", 0.0)),
        "ml" -> ph.getOrElse("train", 0.0),
        "io.refresh" -> refreshS,
        "factorized.train_cold" -> trainS.head,
        "factorized.train_warm" -> Stats.mean(trainS.tail.toSeq))
      OpResult(factRows, failures, samples = Map("train_s" -> trainS.toSeq), layers = layers,
        quality = Map("impute_nrmse" -> nrmse))
    }
  }

  private def sameModel(x: LinReg.Model, y: LinReg.Model): Boolean = {
    def close(p: Double, q: Double) = math.abs(p - q) <= 1e-9 * (1 + math.abs(p))
    close(x.intercept, y.intercept) && x.numCoef.length == y.numCoef.length &&
      x.numCoef.indices.forall(i => close(x.numCoef(i), y.numCoef(i)))
  }

  /** The factorized star triple must equal `Graft.cofactor` over the
    * materialized star join (on every eighth fact row, to bound the
    * join), with `dim_m` aggregated and `dim_u` folded. */
  override def finalChecks(): Seq[OpResult] = {
    val sub = fact.filter(id % 8 === 0)
    val fz = Factorized.cofactorOverStar(sub, factNum, Seq(), dims)
    val routed = routingOk
    val joined = sub.join(dimU, "ku").join(dimM, "km")
    val mat = Graft.cofactor(joined, factNum ++ dimUNum ++ dimMNum, Seq())
    val got = if (corruptFirst) Workload.corrupt(fz) else fz
    val failures = Seq(
      if (routed) None else Some(s"star routing ${Factorized.lastStarRouting()} is not (aggregated [km], folded [ku])"),
      if (got.approxEquals(mat, 1e-9)) None else Some("factorized star triple != materialized join triple")).flatten
    Seq(OpResult(0L, failures))
  }

  def ringInputs(): RingInputs = {
    val f = Workload.ringInputs(fact.na.drop().select(factNum.map(col): _*).limit(4096).collect()
      .map(r => (Array.tabulate(factNum.size)(r.getDouble), Array[Int]())))
    val d = dimM.select(dimMNum.map(col): _*).limit(2048).collect()
      .map(r => (Array.tabulate(dimMNum.size)(r.getDouble), Array[Int]()))
    f.copy(factor = Workload.liftSum(d.toSeq, dimMNum.size, 0))
  }

  def figures(walls: Seq[Double], results: Seq[OpResult]): Seq[Figure] = {
    val trains = results.flatMap(_.samples.getOrElse("train_s", Seq()))
    Seq(
      Figure("train_p50_s", Stats.median(trains), "s", trains.size),
      Figure("refresh_cycle_s", Stats.median(walls), "s", walls.size),
      Figure("impute_nrmse", Stats.mean(results.map(_.quality("impute_nrmse"))), "ratio", results.size))
  }

  override def cleanup(): Unit = Main.deleteTree(path)
}
