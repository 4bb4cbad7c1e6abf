package perfbench

import graft.ring.Triple
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one closed-loop operation reports once its untimed checks ran.
  *
  * @param rows     input rows the operation folded into triples
  * @param failures failed correctness checks (empty when the op is correct)
  * @param samples  sub-call latencies, e.g. `train_s` -> one entry per call
  * @param layers   seconds (or counts) the op spent per layer, read from
  *                 the benchmark's own timers and `Mice.Timings`
  * @param quality  output-quality figures, e.g. `impute_nrmse`
  */
final case class OpResult(rows: Long, failures: Seq[String],
                          samples: Map[String, Seq[Double]] = Map(),
                          layers: Map[String, Double] = Map(),
                          quality: Map[String, Double] = Map())

/** One closed-loop operation: `run` is timed, `verify` is not. */
trait Op {
  def kind: String
  def run(): Unit
  def verify(): OpResult
}

/** A named end-to-end figure for the human-readable report. */
final case class Figure(name: String, value: Double, unit: String, n: Int)

/** Ring-microbenchmark inputs taken from a workload's own data: sampled
  * rows, two triples of the same width (`a`, `b`) and the right-hand
  * factor of the workload's ring product (`factor`). */
final case class RingInputs(rows: Array[(Array[Double], Array[Int])], a: Triple, b: Triple,
                            factor: Triple)

trait Workload {
  def name: String
  /** Seed and generator parameters, echoed in the output. */
  def params: Map[String, Any]
  /** Generates the inputs and warms up; counted in `setup_s`. */
  def setup(): Unit
  /** Untimed reference computations for the correctness checks. */
  def prepareChecks(): Unit = ()
  /** The timed loop runs at least this many ops, whatever `--seconds`,
    * and the end-to-end figures use exactly these leading ops: a fixed
    * count or whole blocks of a mix, so that every run measures the same
    * composition and the same positions in the run. */
  def minOps: Int = 1
  def nextOp(i: Int): Op
  /** Untimed whole-run checks made after the timed loop, as extra ops. */
  def finalChecks(): Seq[OpResult] = Seq()
  /** Calls each operation type once, for the route counts of a traced run. */
  def routePass(): Unit = ()
  def ringInputs(): RingInputs
  /** Workload-specific end-to-end figures, from the timed ops. */
  def figures(walls: Seq[Double], results: Seq[OpResult]): Seq[Figure]
  /** Deletes generated data. */
  def cleanup(): Unit = ()
}

object Workload {

  /** Releases the storage blocks of every checkpoint `df` reads. */
  def dropCheckpoints(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(blocking = true)
      case _ => ()
    }

  def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Sum of the lifted triples of `rows` (the ring's own fold). */
  def liftSum(rows: Seq[(Array[Double], Array[Int])], numCols: Int, catCols: Int): Triple =
    rows.foldLeft(Triple.zero(numCols, catCols)) { case (acc, (x, c)) => Triple.add(acc, Triple.lift(x, c)) }

  /** Splits sampled rows into ring-benchmark inputs: two halves' triples. */
  def ringInputs(rows: Array[(Array[Double], Array[Int])]): RingInputs = {
    val (l, r) = rows.splitAt(rows.length / 2)
    val (n, m) = (rows.head._1.length, rows.head._2.length)
    val b = liftSum(r.toSeq, n, m)
    RingInputs(rows, liftSum(l.toSeq, n, m), b, b)
  }

  /** Perturbs one value of `t` far beyond the check tolerance. */
  def corrupt(t: Triple): Triple = {
    val lin = t.lin.clone()
    lin(0) = lin(0) * (1 + 1e-6) + 1e-6
    t.copy(lin = lin)
  }
}
