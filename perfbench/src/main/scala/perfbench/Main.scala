package perfbench

import org.apache.spark.sql.SparkSession

/** Command-line arguments, as `run.py` passes them. */
final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toInt,
      get("trace") == "1", get("work"))
  }
}

/** What one workload run hands back to [[Main]]. */
final case class Outcome(attempted: Long, failed: Long, correct: Boolean,
    endToEnd: Map[String, Double], layers: Map[String, Double],
    info: Map[String, Any])

/** Shared state of one run. */
final class Ctx(val spark: SparkSession, val args: Args, val sessionS: Double) {
  val trace = new Trace(args.trace)
  val listener: Option[OpListener] =
    if (args.trace) {
      val l = new OpListener(spark.sparkContext)
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
  val runDir: String = s"${args.work}/run/${args.workload}"

  /** Seconds since JVM start at each named point of the run (info). */
  val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def phase(name: String): Unit = phases(name) = (System.currentTimeMillis() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
  def templatesPath: String = graft.queries.RawLog.templatesPath
}

/** Every per-layer metric the traced run prints. A layer a workload
  * leaves idle reads 0 on that workload. */
object Layers {
  val names: Seq[String] = Seq(
    "log.plan_ms", "log.features_write_ms", "log.sessions_write_ms",
    "log.parse_ms", "log.template_ms", "ml.train_ms",
    "stream.add_batch_ms", "stream.query_planning_ms", "stream.wal_commit_ms",
    "stream.batch_rows", "stream.batches", "stream.enrich_ms",
    "store.upsert_ms", "store.snapshot_mb", "store.files", "store.rows",
    "store.pointer_ms",
    "serve.read_plan_ms", "serve.latest_ms", "serve.prefix_ms",
    "serve.range_ms", "serve.topk_ms", "serve.point_ms",
    "serve.rows_scanned_per_result",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_cpu_s",
    "spark.input_mb", "spark.shuffle_write_mb", "spark.spill_mb",
    "jvm.gc_s", "host.steal_s", "host.sentinel_ms",
    "trace.overhead_pct", "trace.latency_ms")

  val units: Map[String, String] = names.map { n =>
    n -> (if (n.endsWith("_ms")) "ms" else if (n.endsWith("_s")) "s"
      else if (n.endsWith("_mb")) "MB" else if (n.endsWith("_pct")) "%"
      else "count")
  }.toMap

  /** Per-op means of Spark's driver rounds and bytes over `ops` ops. */
  def spark(c: SparkCounts, ops: Long): Map[String, Double] = {
    val n = math.max(ops, 1L).toDouble
    Map("spark.jobs" -> c.jobs / n, "spark.stages" -> c.stages / n,
      "spark.tasks" -> c.tasks / n, "spark.task_cpu_s" -> c.taskCpuNs / 1e9 / n,
      "spark.input_mb" -> c.inputBytes / 1048576.0 / n,
      "spark.shuffle_write_mb" -> c.shuffleWriteBytes / 1048576.0 / n,
      "spark.spill_mb" -> c.spillBytes / 1048576.0 / n)
  }
}

object Main {

  /** Spark settings are fixed here and do not depend on the host: four
    * local cores, four shuffle partitions, UTC, the repository's
    * session extensions. The heap is fixed by `run.py`. */
  def session(args: Args): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-${args.workload}")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.default.parallelism", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/spark-warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${args.work}/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val workload: Ctx => Outcome = args.workload match {
      case "stream_scored" => StreamScored.run
      case "serve_dashboard" => ServeDashboard.run
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val t0 = System.nanoTime()
    val spark = session(args)
    val ctx = new Ctx(spark, args, (System.nanoTime() - t0) / 1e9)
    ctx.phase("session")
    val out = try workload(ctx) finally spark.stop()
    ctx.phase("stopped")
    ctx.trace.write(s"${args.work}/trace/${args.workload}-s${args.seed}.json")
    val metrics =
      if (args.trace) Layers.names.map(n =>
        n -> Map("value" -> out.layers.getOrElse(n, 0.0), "unit" -> Layers.units(n)))
      else out.endToEnd.toSeq.sortBy(_._1).map { case (n, v) =>
        n -> Map("value" -> v, "unit" -> EndToEnd.units(n)) }
    println("PERFBENCH_INFO " + Json.render(out.info + ("phases_s" -> ctx.phases)))
    println("PERFBENCH_RESULT " + Json.render(Map(
      "correct" -> out.correct, "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*))))
  }
}

/** The gated metrics, the same three on every workload (see README). */
object EndToEnd {
  val units: Map[String, String] =
    Map("latency_ms" -> "ms", "throughput_per_s" -> "1/s", "setup_s" -> "s")
}
