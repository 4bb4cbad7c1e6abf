package perfbench

import graft.Graft
import graft.ml.{Lda, LinReg}
import graft.ring.Triple
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Read-only analyst session over a static fact table: each query is
  * aggregate -> triple(s) -> model, drawn from a seeded mix of six
  * aggregate shapes. Every query's triples are checked against a plain
  * Spark SQL count/sum reference that uses no graft function. */
final class CofactorScan(spark: SparkSession, seed: Long, rows: Long, work: String,
                         tr: Tracer, corruptFirst: Boolean) extends Workload {
  val name = "cofactor_scan"

  private val num = Seq("x1", "x2", "x3", "x4", "x5", "x6")
  private val cat = Seq("c_lo")
  private val label = 5 // x6
  private val Types = Seq("flat", "filtered", "grouped", "grouped_multi", "sql_grouped", "masked")
  /** Queries per type in each block of the mix. Every block is a seeded
    * shuffle of this multiset, so each run has the same composition; the
    * weights put the median and the 90th percentile inside a type's mode
    * rather than on the edge between two types. */
  private val Weights = Map("flat" -> 4, "filtered" -> 2, "grouped" -> 3, "masked" -> 2,
    "grouped_multi" -> 1, "sql_grouped" -> 2)
  private val Thresholds = Seq(0.0, 0.5)
  private val StrGroups = 50
  private val KeyCard = 10000
  private val SqlBuckets = 64
  private def maskPreds: Seq[Column] = Seq(col("x1") > 0.0, col("x2") > 0.0, col("c_lo") < 4)

  private val rng = new scala.util.Random(seed)
  private val path = s"$work/cofactor_scan-$seed"
  private var fact: DataFrame = _
  private val refs = scala.collection.mutable.Map[(String, Int), Map[Seq[Any], Triple]]()
  private var corruptPending = corruptFirst
  private var block = Seq[String]()

  def params: Map[String, Any] = Map("seed" -> seed, "rows" -> rows, "partitions" -> Gen.Partitions,
    "continuous" -> num.size, "c_lo_card" -> 8, "c_str_card" -> StrGroups, "c_str_bytes" -> 15,
    "c_key_card" -> KeyCard, "mix" -> Weights, "filter_thresholds" -> Thresholds)

  private def generate(n: Long, p: String): DataFrame = {
    val id = col("id")
    val raw = Gen.ids(spark, n).select(
      Gen.normal(id, seed, 0).as("x1"), Gen.normal(id, seed, 2).as("x2"),
      Gen.normal(id, seed, 4).as("x3"), Gen.normal(id, seed, 6).as("x4"),
      Gen.normal(id, seed, 8).as("x5"), Gen.normal(id, seed, 10).as("eps"),
      Gen.below(id, seed, 12, 8).as("c_lo"),
      concat(lit("segment-"), lpad(Gen.below(id, seed, 13, StrGroups).cast("string"), 7, "0")).as("c_str"),
      Gen.below(id, seed, 14, KeyCard).as("c_key"))
    Gen.materialize(raw.select(col("x1"), col("x2"), col("x3"), col("x4"), col("x5"),
      (lit(1.5) + col("x1") * 2.0 - col("x2") + col("x3") * 0.5 + col("c_lo") * 0.25 +
        col("eps") * 0.3).as("x6"),
      col("c_lo"), col("c_str"), col("c_key")), p)
  }

  def setup(): Unit = {
    fact = generate(rows, path)
    Main.log("data generated")
    fact.createOrReplaceTempView("cs_fact")
    for (t <- Types) query(t, 0) // warm-up: JIT, codegen and probe memos of every shape
  }

  // ------------------------------------------------------------ queries

  private def query(tpe: String, variant: Int): Map[Seq[Any], Triple] = tpe match {
    case "flat" => Map(Seq() -> Graft.cofactor(fact, num, cat))
    case "filtered" =>
      Map(Seq() -> Graft.cofactor(fact.filter(col("x1") > Thresholds(variant)), num, cat))
    case "grouped" =>
      val out = Graft.cofactorGrouped(fact, "c_str", num, cat).collect()
      tr.annotate("route", Graft.lastGroupedRoute())
      out.map(r => Seq[Any](r.get(0)) -> Graft.tripleFromRow(r.getStruct(1))).toMap
    case "grouped_multi" =>
      val out = Graft.cofactorGroupedMulti(fact, Seq("c_lo", "c_str"), num, Seq()).collect()
      tr.annotate("route", Graft.lastGroupedRoute())
      out.map(r => Seq[Any](r.get(0), r.get(1)) -> Graft.tripleFromRow(r.getStruct(2))).toMap
    case "sql_grouped" =>
      spark.sql(
        s"""SELECT b, sum_triple(t) AS t FROM (
           |  SELECT c_key % $SqlBuckets AS b, sum_to_triple(${(num ++ cat).mkString(", ")}) AS t
           |  FROM cs_fact GROUP BY c_key) g
           |GROUP BY b""".stripMargin).collect()
        .map(r => Seq[Any](r.get(0)) -> Graft.tripleFromRow(r.getStruct(1))).toMap
    case "masked" =>
      Graft.cofactorMasked(fact, num, cat, maskPreds.map(Some(_)))
        .zipWithIndex.map { case (t, i) => Seq[Any](i) -> t }.toMap
  }

  private def train(tpe: String, out: Map[Seq[Any], Triple]): Unit = tpe match {
    case "grouped" => out.values.foreach(t => Lda.train(t, 0))
    case _ => out.values.foreach(t => LinReg.train(t, label))
  }

  // ------------------------------------------------------------ reference

  /** Plain Spark SQL reference aggregates (count and sums only, no graft
    * function): per `groups` value, the row count, the column sums and
    * the pairwise product sums. */
  private def referenceSums(groups: Seq[Column]): Array[Row] = {
    val k = num.length
    val aggs = count(lit(1)) +: (num.map(c => sum(col(c))) ++
      (for (i <- 0 until k; j <- i until k) yield sum(col(num(i)) * col(num(j)))))
    fact.groupBy(groups: _*).agg(aggs.head, aggs.tail: _*).collect()
  }

  /** Reference triples from the [[referenceSums]] rows that pass `keep`:
    * one per distinct value of the `key` columns, with the `cat` column
    * (if any) as the triple's single categorical column. */
  private def assemble(rows: Array[Row], nGroups: Int, key: Seq[Int], cat: Option[Int],
                       keep: Row => Boolean = _ => true): Map[Seq[Any], Triple] = {
    val k = num.length
    val q = k * (k + 1) / 2
    val off = nGroups
    def tm[K: Ordering](kv: Seq[(K, Double)]) =
      scala.collection.immutable.TreeMap(kv.filter(_._2 != 0.0): _*)
    rows.filter(keep).groupBy(r => key.map(r.get)).map { case (kv, rs) =>
      val n = rs.map(_.getLong(off)).sum
      val lin = Array.tabulate(k)(i => rs.map(_.getDouble(off + 1 + i)).sum)
      val quad = Array.tabulate(q)(p => rs.map(_.getDouble(off + 1 + k + p)).sum)
      val t = cat match {
        case None => Triple(n, lin, quad, Array(), Array(), Array())
        case Some(ci) =>
          val byCat = rs.groupBy(_.getInt(ci)).toSeq.sortBy(_._1)
          def total(f: Row => Double) = byCat.map { case (c, g) => c -> g.map(f).sum }
          Triple(n, lin, quad,
            Array(tm(total(_.getLong(off).toDouble))),
            Array.tabulate(k)(i => tm(total(_.getDouble(off + 1 + i)))),
            Array(tm(total(_.getLong(off).toDouble).map { case (c, v) => Triple.catKey(c, c) -> v })))
      }
      (kv: Seq[Any]) -> t
    }
  }

  override def prepareChecks(): Unit = {
    // one grouping answers flat, filtered and masked: every predicate is
    // a grouping column, and a slot keeps the groups where it holds
    val preds = Thresholds.map(t => col("x1") > t) ++ maskPreds
    val byCat = referenceSums(col("c_lo") +: preds)
    val nG = 1 + preds.size
    refs(("flat", 0)) = assemble(byCat, nG, Seq(), Some(0))
    for (v <- Thresholds.indices)
      refs(("filtered", v)) = assemble(byCat, nG, Seq(), Some(0), _.getBoolean(1 + v))
    refs(("masked", 0)) = maskPreds.indices.map { i =>
      Seq[Any](i) -> assemble(byCat, nG, Seq(), Some(0), _.getBoolean(1 + Thresholds.size + i))(Seq())
    }.toMap
    val byStr = referenceSums(Seq(col("c_str"), col("c_lo")))
    refs(("grouped", 0)) = assemble(byStr, 2, Seq(0), Some(1))
    refs(("grouped_multi", 0)) = assemble(byStr, 2, Seq(1, 0), None)
    val byBucket = referenceSums(Seq((col("c_key") % SqlBuckets).as("b"), col("c_lo")))
    refs(("sql_grouped", 0)) = assemble(byBucket, 2, Seq(0), Some(1))
  }

  private def compare(got: Map[Seq[Any], Triple], want: Map[Seq[Any], Triple]): Seq[String] =
    if (got.keySet != want.keySet)
      Seq(s"group keys differ: ${got.size} returned vs ${want.size} in the reference")
    else want.toSeq.collect {
      case (k, t) if !got(k).approxEquals(t, 1e-9) => s"triple of group ${k.mkString(",")} differs"
    }.take(3)

  // ------------------------------------------------------------ ops

  private val BlockSize = Weights.values.sum
  // figures over the first two blocks of the mix: the same composition
  // and the same positions in every run
  override def minOps: Int = 2 * BlockSize

  def nextOp(i: Int): Op = {
    if (block.isEmpty) block = rng.shuffle(Types.flatMap(t => Seq.fill(Weights(t))(t)))
    val tpe = block.head
    block = block.tail
    val variant = if (tpe == "filtered") rng.nextInt(Thresholds.size) else 0
    new Op {
      val kind: String = tpe
      private var out: Map[Seq[Any], Triple] = Map()
      private var aggS, trainS = 0.0
      def run(): Unit = {
        val t0 = System.nanoTime()
        out = tr.span(s"agg.$tpe")(query(tpe, variant))
        val t1 = System.nanoTime()
        tr.span("ml.train")(train(tpe, out))
        aggS = (t1 - t0) / 1e9
        trainS = (System.nanoTime() - t1) / 1e9
      }
      def verify(): OpResult = {
        val checked =
          if (corruptPending && out.nonEmpty) {
            corruptPending = false
            out.updated(out.keys.head, Workload.corrupt(out.values.head))
          } else out
        OpResult(out.values.map(_.n).sum, compare(checked, refs((tpe, variant))),
          layers = Map("agg" -> aggS, "ml" -> trainS, s"agg.$tpe" -> aggS))
      }
    }
  }

  override def routePass(): Unit =
    for (t <- Types) tr.span(s"route.$t")(query(t, 0))

  def ringInputs(): RingInputs =
    Workload.ringInputs(fact.select((num ++ cat).map(col): _*).limit(4096).collect()
      .map(r => (Array.tabulate(num.size)(r.getDouble), Array(r.getInt(num.size)))))

  def figures(walls: Seq[Double], results: Seq[OpResult]): Seq[Figure] = {
    val byType = walls.indices.groupBy(i => results(i).layers.keys.find(k => k.startsWith("agg.")).getOrElse(""))
    Seq(
      Figure("scan_rows_per_s", results.map(_.rows).sum / walls.sum, "rows/s", walls.size),
      Figure("query_p50_s", Stats.median(walls), "s", walls.size),
      Figure("query_p90_s", Stats.quantile(walls, 0.9), "s", walls.size)) ++
      byType.toSeq.sortBy(_._1).collect { case (k, idx) if k.nonEmpty =>
        Figure(s"query_p50_s.${k.stripPrefix("agg.")}", Stats.median(idx.map(walls)), "s", idx.size)
      }
  }

  override def cleanup(): Unit = Main.deleteTree(path)
}
