package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up a workload several times, warm it up, then
  * time its ops in a closed loop with one client.
  *
  *   perfbench.Main --workload north_rule --seed 1 --seconds 12 --trace 0
  *
  * Prints an `env` line and, last, a `result` line (see run.py, which
  * launches this with the JVM flags and prints the final JSON). */
object Main {
  val SetupReps = 3

  /** The spans reported by a traced run, and the two that count rows. */
  val SpanNames: Seq[String] = Seq("pipeline.geocode", "pipeline.pip_join",
    "weights.knn_build", "stats.local_moran_lookup", "stats.local_moran",
    "stats.local_geary", "stats.local_gstar", "stats.local_joincount",
    "stats.quantile_lisa", "stats.tile_moran", "stats.tile_geary")
  val RowSpans = Set("pipeline.pip_join", "weights.knn_build")

  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    // exit explicitly: a failure must not leave Spark's threads holding the JVM
    try run(args)
    catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }
    sys.exit(0)
  }

  def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val w = Workload(name)

    // set-up, repeated; the last session stays up for the ops
    var spark: SparkSession = null
    var spans: Spans = NoSpans
    val setups = (1 to SetupReps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores)
      spans = if (trace) new Tracer(spark.sparkContext) else NoSpans
      w.setup(spark, seed, spans)
      (System.nanoTime() - t0) / 1e9
    }
    val setupSpans = spans match {
      case t: Tracer => val s = t.stats(); t.clear(); s
      case _ => Nil
    }

    val warmOps = w.round * w.warmupRounds
    val warm = Loop.closed(0.0, warmOps)(w.op(_, spans))
    spans match { case t: Tracer => t.clear(); case _ => }
    val res = Loop.closed(seconds, w.round)(i => w.op(i + warmOps, spans))
    val errors = warm.errors ++ res.errors

    // every span of the run, in order (set-up spans of the last set-up first)
    val allSpans = spans match {
      case t: Tracer => setupSpans ++ t.stats()
      case _ => Nil
    }
    val conf = spark.sparkContext.getConf
    val env = Json.obj(
      "workload" -> Json.str(name), "seed" -> seed.toString,
      "cores" -> cores.toString,
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "spark.local.dir" -> Json.str(conf.get("spark.local.dir", "")),
      "bypass_merge_threshold" ->
        Json.str(conf.get("spark.shuffle.sort.bypassMergeThreshold", "200")),
      "rows_per_op" -> w.rowsPerOp.toString,
      "setup_reps_s" -> Json.arr(setups.map(Json.num)),
      "warmup_s" -> Json.num(warm.timedWall),
      "op_walls_s" -> Json.arr(res.walls.map(Json.num)),
      "errors" -> Json.arr(errors.map(Json.str)),
      "spans" -> Json.arr(allSpans.map(s => Json.obj("name" -> Json.str(s.name),
        "wall_s" -> Json.num(s.wallS), "jobs" -> s.jobs.toString,
        "task_s" -> Json.num(s.taskS), "driver_gap_s" -> Json.num(s.driverGapS)))))
    println("env " + env)

    val metrics: Seq[(String, Double, String)] = spans match {
      case _: Tracer =>
        val timed = allSpans.drop(setupSpans.size)
        val opSpanWall = timed.filter(s => w.opSpans.contains(s.name)).map(_.wallS).sum
        System.gc()
        val rt = Runtime.getRuntime
        spanMetrics(allSpans) ++ Seq(
          ("jvm.heap_after_gc_mb", (rt.totalMemory - rt.freeMemory) / 1048576.0, "MB"),
          ("trace.op_p50_s", opP50(res.walls, w.round), "s"),
          ("trace.span_share", opSpanWall / res.timedWall, "ratio"))
      case _ =>
        val ops = res.attempted
        Seq(
          ("setup_s", Loop.median(setups), "s"),
          ("op_p50_s", opP50(res.walls, w.round), "s"),
          ("rows_per_s", w.rowsPerOp * ops / res.timedWall, "1/s"),
          ("cpu_s_per_op", res.cpus.sum / ops, "s"))
    }
    // the attribution bar: an op's spans account for its wall within 10%
    val attributed = metrics.collectFirst {
      case ("trace.span_share", v, _) => math.abs(v - 1.0) <= 0.1
    }.getOrElse(true)
    if (!attributed) System.err.println("spans cover less than 90% of the op wall")
    errors.foreach(e => System.err.println("FAILED " + e))

    val result = Json.obj(
      "correct" -> (errors.isEmpty && attributed).toString,
      "attempted" -> (warm.attempted + res.attempted).toString,
      "failed" -> errors.size.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) }: _*))
    println("result " + result)
    spark.stop()
  }

  /** Median op wall of each op kind (position in the round), averaged over
    * the kinds. A plain median of a mixed round falls between two kinds'
    * walls and jumps whenever their order flips; with one kind this is
    * the plain median. */
  def opP50(walls: Seq[Double], round: Int): Double = {
    val perKind = walls.indices.groupBy(_ % round).values
      .map(ix => Loop.median(ix.map(walls)))
    perKind.sum / perKind.size
  }

  /** Per-span medians over a run (means for the bursty GC and spill);
    * a span the workload does not open reads 0. */
  def spanMetrics(all: Seq[SpanStats]): Seq[(String, Double, String)] =
    SpanNames.flatMap { n =>
      val ss = all.filter(_.name == n)
      def med(f: SpanStats => Double) = if (ss.isEmpty) 0.0 else Loop.median(ss.map(f))
      def mean(f: SpanStats => Double) = if (ss.isEmpty) 0.0 else ss.map(f).sum / ss.size
      Seq(
        (s"$n.wall_s", med(_.wallS), "s"),
        (s"$n.jobs", med(_.jobs.toDouble), "count"),
        (s"$n.tasks", med(_.tasks.toDouble), "count"),
        (s"$n.task_s", med(_.taskS), "s"),
        (s"$n.driver_gap_s", med(_.driverGapS), "s"),
        (s"$n.gc_s", mean(_.gcS), "s"),
        (s"$n.shuffle_mb", med(_.shuffleMb), "MB"),
        (s"$n.spill_mb", mean(_.spillMb), "MB")) ++
        (if (RowSpans(n)) Seq((s"$n.rows_out", med(_.rowsOut.toDouble), "count"))
         else Nil)
    }
}

/** Just enough JSON writing for the two output lines. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
