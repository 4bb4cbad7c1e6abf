package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

import graft.Graft
import graft.ml.Factorized
import org.apache.spark.sql.SparkSession

/** Closed-loop, single-client benchmark of one workload on one
  * `local[k]` session. Prints a human-readable report, then one JSON
  * result line: the end-to-end metrics untraced (`--trace 0`), the
  * per-layer metrics traced (`--trace 1`). */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        scale: String, corrupt: Boolean, work: String)

  /** End-to-end metrics of the result line (every workload). */
  val EndToEnd = Seq("setup_s" -> "s", "op_p50_s" -> "s", "rows_per_s" -> "rows/s", "peak_heap_mb" -> "MB")

  /** Per-layer metrics of the traced result line (every workload). */
  val PerLayer = Seq(
    "ring.lift_add_rows_per_s" -> "rows/s", "ring.add_subtract_per_s" -> "1/s",
    "ring.multiply_per_s" -> "1/s",
    "agg.s" -> "s", "agg.rows_per_cpu_s" -> "rows/s",
    "agg.route.columnar" -> "count", "agg.route.columnar_dict" -> "count",
    "agg.route.row" -> "count", "agg.route.kernel" -> "count",
    "plans.plan_s" -> "s", "plans.planning_jobs" -> "count",
    "ml.train_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_cpu_s" -> "s", "spark.executor_run_s" -> "s", "spark.gc_s" -> "s",
    "spark.scheduler_wait_s" -> "s",
    "spark.input_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.cached_bytes" -> "bytes",
    "driver.self_s" -> "s", "trace.overhead_s" -> "s")

  /** Workload-specific layer metrics, reported beside the result line
    * ("n/a" where the layer does not run). */
  val Detail: Seq[String] =
    Seq("flat", "filtered", "grouped", "grouped_multi", "sql_grouped", "masked")
      .flatMap(t => Seq(s"agg.$t.s", s"agg.$t.rows_per_cpu_s")) ++
      Seq("mice.partition_s", "mice.cofactor_static_s", "mice.cofactor_delta_s", "mice.train_s",
        "mice.impute_update_s",
        "mice.join.prepare_s", "mice.join.cofactor_s", "mice.join.train_s", "mice.join.impute_update_s",
        "factorized.train_cold_s", "factorized.train_warm_s", "factorized.jobs_cold",
        "factorized.jobs_warm", "factorized.route.aggregated", "factorized.route.folded")

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      m.getOrElse("scale", "full"), m.getOrElse("corrupt", "0") == "1", need("work"))
  }

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  /** A progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench ${(System.currentTimeMillis() - jvmStartMs) / 1000}%7.2f s: $msg")

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
  }

  /** Median op wall per op kind, combined over kinds by geometric mean
    * (the plain median for a single-kind workload): a mixed workload's
    * figure then does not hinge on where the median falls between kinds. */
  def typicalWall(walls: Seq[Double], kinds: Seq[String]): Double = {
    val medians = walls.indices.groupBy(kinds).values.map(idx => Stats.median(idx.map(walls)))
    math.exp(Stats.mean(medians.map(math.log).toSeq))
  }

  /** Heap and non-heap memory in use after a full collection, in MB:
    * the live data the JVM holds at this point. */
  private def liveMb(): Double = {
    System.gc()
    val m = ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / (1024.0 * 1024.0)
  }

  private def session(a: Args): SparkSession = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", Gen.Partitions.toString)
      .config("spark.default.parallelism", Gen.Partitions.toString)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
  }

  private def workload(spark: SparkSession, a: Args, tr: Tracer): Workload = {
    val tiny = a.scale == "tiny"
    val data = s"${a.work}/data"
    a.workload match {
      case "cofactor_scan" =>
        new CofactorScan(spark, a.seed, if (tiny) 20000L else 250000L, data, tr, a.corrupt)
      case "mice_impute" =>
        new MiceImpute(spark, a.seed, if (tiny) 10000L else 100000L, data, tr)
      case "star_refresh" =>
        if (tiny) new StarRefresh(spark, a.seed, 20000L, 2000, 200, data, tr, a.corrupt)
        else new StarRefresh(spark, a.seed, 500000L, 200000, 20000, data, tr, a.corrupt)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a)
    spark.sparkContext.setLogLevel("WARN")
    Graft.register(spark)
    val tr = new Tracer
    val ev = new SparkEvents
    val w = workload(spark, a, tr)
    val code =
      try { run(spark, a, w, tr, ev); 0 }
      catch { case NonFatal(e) => e.printStackTrace(); 1 }
      finally { try w.cleanup() catch { case NonFatal(_) => () } }
    spark.stop()
    sys.exit(code)
  }

  private def run(spark: SparkSession, a: Args, w: Workload, tr: Tracer, ev: SparkEvents): Unit = {
    log("session ready")
    w.setup()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    log("setup done")
    w.prepareChecks()
    log("check references ready")

    // ---------------------------------------------------------- timed loop
    val walls = scala.collection.mutable.ArrayBuffer[Double]()
    val results = scala.collection.mutable.ArrayBuffer[OpResult]()
    val kinds = scala.collection.mutable.ArrayBuffer[String]()
    val traced = scala.collection.mutable.ArrayBuffer[Boolean]()
    var peakLiveMb = 0.0
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    // a traced run traces ops in groups of four, untraced, traced,
    // traced, untraced, so that the JVM's speed-up over the run cancels
    // out of trace.overhead_s; it runs at least one whole group
    while (elapsed < a.seconds || i < w.minOps || (a.trace && i < 4)) {
      val op = w.nextOp(i)
      val on = a.trace && (i % 4 == 1 || i % 4 == 2)
      if (on) ev.attach(spark)
      tr.enabled = on
      tr.currentOp = i
      val s = System.nanoTime()
      val ranOk = try { tr.span("op")(op.run()); None } catch { case NonFatal(e) => Some(e) }
      walls += (System.nanoTime() - s) / 1e9
      tr.enabled = false
      if (on) ev.detach(spark)
      val cached = Workload.cachedBytes(spark)
      // what a measured op leaves live (its checkpoint blocks are
      // released only after its checks)
      if (i < w.minOps) peakLiveMb = math.max(peakLiveMb, liveMb())
      val r = ranOk match {
        case Some(e) => OpResult(0L, Seq(s"${op.kind} failed: $e"))
        case None =>
          try op.verify() catch { case NonFatal(e) => OpResult(0L, Seq(s"${op.kind} check failed: $e")) }
      }
      results += r.copy(layers = r.layers + ("spark.cached_bytes" -> cached.toDouble))
      kinds += op.kind
      traced += on
      i += 1
    }
    tr.currentOp = -2
    log(s"timed loop done: $i ops, walls ${walls.map(w => f"$w%.3f").mkString(" ")}")
    val extra = w.finalChecks()
    val all = results ++ extra
    val failed = all.count(_.failures.nonEmpty)
    all.flatMap(_.failures).distinct.take(10).foreach(f => System.err.println(s"check failed: $f"))

    // ---------------------------------------------------------- report
    val k = w.minOps
    val (mWalls, mResults) = (walls.take(k).toSeq, results.take(k).toSeq)
    val e2e = Map(
      "setup_s" -> setupS,
      "op_p50_s" -> typicalWall(mWalls, kinds.take(k).toSeq),
      "rows_per_s" -> mResults.map(_.rows).sum / mWalls.sum,
      "peak_heap_mb" -> peakLiveMb)
    val figures = w.figures(mWalls, mResults) ++ Seq(
      Figure("setup_s", setupS, "s", 1),
      Figure("error_rate", failed.toDouble / all.size, "failed/attempted", all.size),
      Figure("peak_heap_mb", peakLiveMb, "MB", k))
    println(s"params ${Stats.json(w.params ++ Map("workload" -> w.name, "seconds" -> a.seconds,
      "trace" -> a.trace, "scale" -> a.scale))}")
    for (f <- figures) println(f"metric ${f.name}%-22s ${f.value}%.6g ${f.unit} (n=${f.n})")

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) EndToEnd.map { case (k, u) => (k, e2e(k), u) }
      else {
        val layers = perLayer(spark, w, tr, ev, walls.toSeq, results.toSeq, kinds.toSeq, traced.toSeq)
        for (k <- Detail)
          println(s"layer $k ${layers.get(k).map(v => f"$v%.6g").getOrElse("n/a")}")
        for ((k, v) <- layers.toSeq.sortBy(_._1) if k.startsWith("self."))
          println(f"layer $k $v%.6g")
        writeTrace(a, w, tr, ev, layers)
        PerLayer.map { case (k, u) => (k, layers(k), u) }
      }
    println(Stats.json(ListMap(
      "correct" -> (failed == 0), "attempted" -> all.size, "failed" -> failed,
      "metrics" -> ListMap(metrics.map { case (k, v, u) => k -> ListMap("value" -> v, "unit" -> u) }: _*))))
  }

  /** Per-layer metrics of a traced run, attributed to the traced ops by
    * time: a job to the op it started in, a task or stage to the op it
    * finished in, a query to the op its planning ended in. */
  private def perLayer(spark: SparkSession, w: Workload, tr: Tracer, ev: SparkEvents,
                       walls: Seq[Double], results: Seq[OpResult], kinds: Seq[String],
                       traced: Seq[Boolean]): Map[String, Double] = {
    val routeBefore = tr.spans.length
    ev.attach(spark)
    tr.enabled = true
    w.routePass()
    tr.enabled = false
    ev.detach(spark)
    val ring = RingBench.run(w.ringInputs())
    val (spans, jobs, tasks, stages, queries, waits) = ev.synchronized {
      (tr.spans.toSeq, ev.jobs.toSeq, ev.tasks.toSeq, ev.stages.toSeq, ev.queries.toSeq, ev.waits.toSeq)
    }
    val opSpans = spans.filter(_.name == "op")
    val tracedIdx = opSpans.map(_.op)
    val n = math.max(1, opSpans.size).toDouble
    def in(s: Span, t: Long) = s.contains(t.toDouble)
    def tasksIn(s: Span) = tasks.filter(t => in(s, t.finishMs))
    def jobsIn(s: Span) = jobs.filter(j => in(s, j.startMs))
    def perOp(f: Span => Double) = opSpans.map(f).sum / n
    def layer(k: String) = tracedIdx.map(i => results(i).layers.getOrElse(k, 0.0)).sum / n

    val cpu = perOp(s => tasksIn(s).map(_.cpuNs).sum / 1e9)
    val rows = tracedIdx.map(i => results(i).rows).sum / n
    val planningJobs = perOp { s =>
      val qs = queries.filter(q => in(s, q.planEndMs))
      jobsIn(s).count(j => qs.exists(q => j.startMs >= q.planStartMs && j.startMs <= q.planEndMs)).toDouble
    }
    val driverSelf = perOp { s =>
      s.durS - Stats.unionLength(jobsIn(s).filter(_.endMs > 0).map(j =>
        (math.max(j.startMs.toDouble, s.startMs), math.min(j.endMs.toDouble, s.endMs)))) / 1000.0
    }
    // mean traced minus mean untraced op wall over the whole groups of
    // four, per op kind, averaged over kinds
    val overhead = {
      val whole = walls.indices.take(walls.size / 4 * 4)
      val diffs = whole.groupBy(kinds).values.toSeq.flatMap { idx =>
        val (t, u) = idx.partition(traced)
        if (t.isEmpty || u.isEmpty) None
        else Some(Stats.mean(t.map(walls)) - Stats.mean(u.map(walls)))
      }
      Stats.mean(diffs)
    }

    // route counts: one call of each operation type (the route pass),
    // or the first traced op where the workload makes no such pass
    val routeSpans = spans.drop(routeBefore).filter(_.name.startsWith("route."))
    val probes: Seq[(Option[String], Seq[QeRec])] =
      if (routeSpans.nonEmpty)
        routeSpans.map(s => (s.attrs.get("route"), queries.filter(q => in(s, q.planEndMs))))
      else opSpans.headOption.toSeq.flatMap(s =>
        queries.filter(q => in(s, q.planEndMs)).map(q => (None: Option[String], Seq(q))))
    val routes = probes.map {
      case (Some(r), _) => r
      case (None, qs) if qs.exists(_.kernelRoute) => "kernel"
      case (None, qs) if qs.exists(_.rowRoute) => "row"
      case (None, qs) if routeSpans.nonEmpty => "columnar"
      case _ => "other"
    }
    def routeCount(r: String) = routes.count(_ == r).toDouble

    val base = Map(
      "agg.s" -> layer("agg"),
      "agg.rows_per_cpu_s" -> (if (cpu > 0) rows / cpu else 0.0),
      "agg.route.columnar" -> routeCount("columnar"),
      "agg.route.columnar_dict" -> routeCount("columnar-dict"),
      "agg.route.row" -> routeCount("row"),
      "agg.route.kernel" -> routeCount("kernel"),
      "plans.plan_s" -> perOp(s => queries.filter(q => in(s, q.planEndMs)).map(_.planS).sum),
      "plans.planning_jobs" -> planningJobs,
      "ml.train_s" -> layer("ml"),
      "spark.jobs" -> perOp(s => jobsIn(s).size.toDouble),
      "spark.stages" -> perOp(s => stages.count(st => in(s, st.doneMs)).toDouble),
      "spark.tasks" -> perOp(s => tasksIn(s).size.toDouble),
      "spark.executor_cpu_s" -> cpu,
      "spark.executor_run_s" -> perOp(s => tasksIn(s).map(_.runMs).sum / 1000.0),
      "spark.gc_s" -> perOp(s => tasksIn(s).map(_.gcMs).sum / 1000.0),
      "spark.scheduler_wait_s" -> perOp(s => waits.filter(x => in(s, x._1)).map(_._2).sum / 1000.0),
      "spark.input_bytes" -> perOp(s => tasksIn(s).map(_.inputBytes).sum.toDouble),
      "spark.shuffle_write_bytes" -> perOp(s => tasksIn(s).map(_.shuffleWrite).sum.toDouble),
      "spark.shuffle_read_bytes" -> perOp(s => tasksIn(s).map(_.shuffleRead).sum.toDouble),
      "spark.spill_bytes" -> perOp(s => tasksIn(s).map(_.spill).sum.toDouble),
      "spark.cached_bytes" -> layer("spark.cached_bytes"),
      "driver.self_s" -> driverSelf,
      "trace.overhead_s" -> overhead) ++ ring

    // workload-specific layers: mean over the traced ops that ran them
    val detail = scala.collection.mutable.Map[String, Double]()
    for (k <- tracedIdx.flatMap(i => results(i).layers.keys).distinct) {
      val idx = tracedIdx.filter(i => results(i).layers.contains(k))
      val mean = idx.map(i => results(i).layers(k)).sum / idx.size
      if (k.startsWith("agg.") && k != "agg") {
        val tpe = k.stripPrefix("agg.")
        detail(s"$k.s") = mean
        val aggSpans = spans.filter(_.name == k)
        val aggCpu = aggSpans.map(s => tasksIn(s).map(_.cpuNs).sum / 1e9).sum
        val aggRows = idx.map(i => results(i).rows).sum.toDouble
        if (aggCpu > 0) detail(s"agg.$tpe.rows_per_cpu_s") = aggRows / aggCpu
      } else if (k.startsWith("mice.") || k.startsWith("factorized.")) detail(s"${k}_s") = mean
    }
    for (cold <- Seq("cold", "warm")) {
      val ss = spans.filter(_.name == s"factorized.train_$cold")
      if (ss.nonEmpty) detail(s"factorized.jobs_$cold") = ss.map(s => jobsIn(s).size).sum.toDouble / ss.size
    }
    if (w.name == "star_refresh") {
      val (aggd, folded) = Factorized.lastStarRouting()
      detail("factorized.route.aggregated") = aggd.size.toDouble
      detail("factorized.route.folded") = folded.size.toDouble
    }
    // each span name's mean self time (its duration outside child spans and jobs)
    val children = spans.groupBy(_.parent)
    val self = spans.filter(_.op >= 0).groupBy(_.name).map { case (name, ss) =>
      s"self.$name" -> Stats.mean(ss.map(s => Trace.selfTimeS(s, children.getOrElse(s.id, Seq()),
        jobs.filter(j => in(s, j.startMs)))))
    }
    base ++ detail ++ self
  }

  private def writeTrace(a: Args, w: Workload, tr: Tracer, ev: SparkEvents,
                         layers: Map[String, Double]): Unit = {
    val dir = Paths.get(a.work, "traces")
    Files.createDirectories(dir)
    val doc = Map(
      "workload" -> w.name, "seed" -> a.seed, "params" -> w.params, "layers" -> layers,
      "spans" -> tr.spans.map(s => Map("id" -> s.id, "name" -> s.name, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "parent" -> s.parent, "op" -> s.op, "attrs" -> s.attrs)),
      "jobs" -> ev.synchronized(ev.jobs.toSeq).map(j => Map("id" -> j.id, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "stages" -> j.stageIds)))
    Files.write(dir.resolve(s"${w.name}-seed${a.seed}.json"),
      Stats.json(doc).getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
