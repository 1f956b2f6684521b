package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.log.Templates
import graft.ml.Pipeline
import graft.streaming.{ServingStore, StreamMessages, StreamTransform}

/** serve_dashboard: closed loop, one thread. Set-up is the Lambda
  * batch path: the batch layer builds today's batch view from the raw
  * log ([[BatchView]]: `BatchPipeline.run`, features and sessions
  * written, LR trained), the stream layer's transform scores the
  * sessions with that model, and a keyed `ServingStore.upsert` seeds a
  * fresh store with them and with earlier days' scored sessions. The
  * client then replays the reference dashboard's traffic tick by tick
  * (see [[Traffic]]). The store is large next to one upsert, so the
  * whole-snapshot rewrite dominates the upserts. */
object ServeDashboard {

  /** Raw-log size: one session per block, so one day of the store. */
  val Blocks = 1000
  /** Earlier days in the seeded store, each a scored copy of the day's
    * sessions under other block ids and older times. */
  val HistoryDays = 23
  /** Ticks before timing starts; upsert and read walls level off by then. */
  val WarmupTicks = 2
  /** Measured ticks: a fixed count, this many per second asked. */
  val TicksPerS = 1
  /** Set-up runs this many times; the first `SetupWarmupReps` warm up. */
  val SetupReps = 5
  val SetupWarmupReps = 2
  /** The deployed decision threshold the top-k read filters on. */
  val MinProba = 0.83
  val DisplayCols = Seq("block_id", "ts_ms", "proba", "prediction", "num_lines")
  val DayMs = 86400000L

  import Checks.{Latest, Point, Prefix, Range, Read, TopK}

  /** The reference dashboard's traffic. One tick is one poll interval:
    * the dashboard polls the latest 500 rows once a second (reference
    * `config.py:22`, `app.py:62-77`), and in that second the stream
    * lands one micro-batch, so one keyed upsert of the rows the stream
    * carries in a second precedes each poll. The other reads are on
    * demand (REST endpoints `app.py:257-351`); the reference says
    * nothing of how often, so one of them follows every
    * `OnDemandEvery`-th poll, the four kinds in turn. Every tick with
    * an on-demand read is checked: both its reads against a recompute
    * over the snapshot the upsert left. */
  object Traffic {
    /** Rows per upsert: the stream rate of stream_scored over the 1 s
      * poll interval. Half are new keys, half move stored rows forward
      * in time (the reference store overwrites a re-sent block). */
    val UpsertRows: Int = StreamScored.Rate.toInt
    val PollRows = 500
    val OnDemandEvery = 2
    val OnDemand = Seq("prefix", "range", "topk", "point")

    def onDemand(tick: Int): Option[String] =
      if (tick % OnDemandEvery == OnDemandEvery - 1)
        Some(OnDemand((tick / OnDemandEvery) % OnDemand.size))
      else None

    /** The read kinds of one tick, in order; the poll first. */
    def reads(tick: Int): Seq[String] = "latest" +: onDemand(tick).toSeq

    def checked(tick: Int): Boolean = onDemand(tick).isDefined

    def ticks(seconds: Int): Int =
      WarmupTicks + math.max(OnDemandEvery * OnDemand.size, TicksPerS * seconds)

    /** The read kinds a run of `ticks` ticks checks. */
    def checkedKinds(ticks: Int): Set[String] =
      (0 until ticks).filter(checked).flatMap(reads).toSet
  }

  def query(store: DataFrame, read: Read): DataFrame = (read match {
    case Latest(n) => store.orderBy(col("ts_ms").desc, col("block_id")).limit(n)
    case Prefix(p) => store.filter(col("block_id").startsWith(p)).orderBy("block_id")
    case Range(a, b) => store.filter(col("ts_ms").between(a, b)).orderBy("block_id")
    case TopK(m, k) => store.filter(col("proba") >= m)
      .orderBy(col("proba").desc, col("block_id")).limit(k)
    case Point(id) => store.filter(col("block_id") === id)
  }).select(DisplayCols.map(col): _*)

  def rows(rs: Seq[Row]): Seq[Checks.Row] =
    rs.map(r => Checks.Row(r.getString(0), r.getLong(1), r.getDouble(2)))

  /** A scored copy of the day's sessions under other keys and times:
    * `days` earlier days (suffix `_d<k>`, k days older) that seed the
    * store, and `fresh` sessions not in it (suffix `_n<k>`, same day)
    * that the upserts add. Scored once per seed with stream_scored's
    * fixed scorer and kept, so it costs nothing in set-up. */
  final case class History(earlier: String, fresh: String, sha256: String, genS: Double)

  def history(spark: SparkSession, raw: Inputs.RawLog, templates: Seq[Templates.Template],
      days: Int, freshRows: Int): History = {
    val t0 = System.nanoTime()
    val sessions = Inputs.sessions(spark, raw)
      .select(StreamMessages.schema.fieldNames.map(col): _*)
    val perDay = sessions.count()
    val freshCopies = ((freshRows + perDay - 1) / perDay).toInt.max(1)
    val base = s"${raw.logDir}_history_d${days}_n$freshCopies"
    val (earlier, fresh) = (s"$base/earlier", s"$base/fresh")
    if (!Files.exists(Paths.get(fresh, "_SUCCESS"))) {
      val scored = StreamTransform.enrichLocal(sessions, templates,
        StreamScored.scorer(templates)).cache()
      def copy(suffix: String, daysBack: Int): DataFrame = {
        val shift = expr(s"INTERVAL $daysBack DAYS")
        scored.withColumn("block_id", concat(col("block_id"), lit(suffix)))
          .withColumn("start_ts", col("start_ts") - shift)
          .withColumn("end_ts", col("end_ts") - shift)
          .withColumn("ts_ms", col("ts_ms") - lit(daysBack * DayMs))
      }
      // One file in key order, so the same seed gives the same bytes.
      def write(df: DataFrame, path: String): Unit =
        df.repartition(1).sortWithinPartitions("block_id").write.mode("overwrite").parquet(path)
      write((1 to days).map(d => copy(s"_d$d", d)).reduce(_ unionByName _), earlier)
      write((1 to freshCopies).map(k => copy(s"_n$k", 0)).reduce(_ unionByName _), fresh)
      scored.unpersist()
    }
    History(earlier, fresh, Inputs.cachedHash(s"$base.sha256", Seq(earlier, fresh)),
      (System.nanoTime() - t0) / 1e9)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.trace
    val seed = ctx.args.seed
    val nTicks = Traffic.ticks(ctx.args.seconds)
    val half = Traffic.UpsertRows / 2

    // Inputs: the raw log, and the scored earlier days and fresh
    // sessions around it.
    val raw = Inputs.rawLog(spark, ctx.args.work, Blocks, seed)
    val hist = history(spark, raw, Templates.load(spark, ctx.templatesPath),
      HistoryDays, half * nTicks)
    ctx.phase("inputs")

    // Set-up, several times; the last store serves.
    var templates = Seq.empty[Templates.Template]
    var store = ""
    val views = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      templates = Templates.load(spark, ctx.templatesPath)
      val view = BatchView.build(ctx, raw, templates, s"${ctx.runDir}/batch$rep", rep)
      val today = StreamTransform.enrichLocal(
        spark.read.parquet(view.sessions).select(StreamMessages.schema.fieldNames.map(col): _*),
        templates, Pipeline.toScorer(view.model))
      store = s"${ctx.runDir}/store$rep"
      ServingStore.upsert(today.unionByName(spark.read.parquet(hist.earlier)),
        store, "block_id", 0L)
      (view, (System.nanoTime() - t0) / 1e9)
    }
    val setupReps = views.map(_._2)
    ctx.phase("setup")
    val buildFailures = views.map(v => BatchView.check(spark, raw, templates.map(_.id), v._1))

    // The upserts' rows: fresh sessions, and stored rows moved forward
    // in time.
    val seeded = ServingStore.read(spark, store)
    val schema = seeded.schema
    val freshRows = spark.read.parquet(hist.fresh).select(schema.fieldNames.map(col): _*)
      .orderBy("block_id").limit(half * nTicks).collect().toSeq
    val updates = Inputs.shuffled(seeded, seed + 1).limit(half * nTicks).collect().toSeq
    val seedMeta = rows(seeded.select("block_id", "ts_ms", "proba").collect().toSeq)
    val tsIdx = schema.fieldIndex("ts_ms")
    val endIdx = schema.fieldIndex("end_ts")
    def upsertBatch(u: Int): DataFrame = {
      val shiftMs = (u + 1) * DayMs
      val moved = updates.slice(u * half, (u + 1) * half).map { r =>
        val v = r.toSeq.toArray
        v(tsIdx) = r.getLong(tsIdx) + shiftMs
        v(endIdx) = new java.sql.Timestamp(r.getTimestamp(endIdx).getTime + shiftMs)
        Row.fromSeq(v.toSeq)
      }
      spark.createDataFrame((freshRows.slice(u * half, (u + 1) * half) ++ moved).asJava, schema)
    }
    var expectedRows = seedMeta.size.toLong

    // Read parameters, seeded.
    val rng = new Random(seed)
    val byTs = seedMeta.map(_.tsMs).sorted.toIndexedSeq
    def pick(): Checks.Row = seedMeta(rng.nextInt(seedMeta.size))
    def readOf(kind: String): Read = kind match {
      case "latest" => Latest(Traffic.PollRows)
      case "prefix" =>
        val id = pick().blockId
        Prefix(id.take(id.indexWhere(_.isDigit) + 3))
      case "range" =>
        val a = rng.nextInt(byTs.size - 100)
        Range(byTs(a), byTs(a + 100))
      case "topk" => TopK(MinProba, 100)
      case _ => Point(pick().blockId)
    }

    final case class Op(kind: String, ms: Double, failures: Seq[String])
    var scannedRecords = 0L
    var resultRows = 0L
    def snapshot(): Seq[Checks.Row] =
      rows(ServingStore.read(spark, store).select("block_id", "ts_ms", "proba").collect().toSeq)

    def read(t: Int, r: Read): (Op, Seq[Row]) = {
      val before = ctx.listener.map(_.snapshot())
      val t0 = System.nanoTime()
      val got = tr.span(t, s"serve.${r.kind}", "op") {
        if (tr.enabled) tr.span(t, "store.pointer", s"serve.${r.kind}")(ServingStore.pointer(store))
        val q = tr.span(t, "serve.read_plan", s"serve.${r.kind}") {
          val q = query(ServingStore.read(spark, store), r)
          if (tr.enabled) q.queryExecution.executedPlan
          q
        }
        q.collect().toSeq
      }
      val ms = (System.nanoTime() - t0) / 1e6
      for (a <- ctx.listener.map(_.snapshot()); b <- before) {
        scannedRecords += (a - b).inputRecords
        resultRows += got.size
      }
      (Op(r.kind, ms, Nil), got)
    }

    def tick(t: Int): Seq[Op] = {
      val batch = upsertBatch(t)
      val t0 = System.nanoTime()
      tr.span(t, "store.upsert", "op") {
        ServingStore.upsert(batch, store, "block_id", t + 1L)
      }
      val up = Op("upsert", (System.nanoTime() - t0) / 1e6, Nil)
      expectedRows += half
      val reads = Traffic.reads(t).map(k => readOf(k)).map(r => r -> read(t, r))
      if (!Traffic.checked(t)) up +: reads.map(_._2._1)
      else {
        val snap = snapshot()
        up +: reads.map { case (r, (op, got)) =>
          op.copy(failures = Checks.serve(r, rows(got), snap, expectedRows))
        }
      }
    }

    val warm = (0 until WarmupTicks).flatMap(tick)
    ctx.phase("warmup")
    scannedRecords = 0L; resultRows = 0L
    val gc0 = graft.Bench.gcSnap()._1; val steal0 = graft.Bench.sysSnap().stealJiffies
    val sentinel0 = graft.Bench.sentinel() * 1000
    val before = ctx.listener.map(_.snapshot())
    val measured = (WarmupTicks until nTicks).flatMap(tick)
    val after = ctx.listener.map(_.snapshot())
    ctx.phase("measured")
    val sentinel1 = graft.Bench.sentinel() * 1000
    val gcS = (graft.Bench.gcSnap()._1 - gc0) / 1000.0
    val stealS = (graft.Bench.sysSnap().stealJiffies - steal0) / 100.0

    val reads = measured.filter(_.kind != "upsert")
    val ups = measured.filter(_.kind == "upsert")
    val latency = Stats.median(reads.map(_.ms))
    val upsertMs = Stats.median(ups.map(_.ms))
    val ops = warm ++ measured
    val failed = (ops.map(_.failures) ++ buildFailures).count(_.nonEmpty).toLong

    var layers = Map.empty[String, Double]
    var upsertByRows = Seq.empty[(Long, Double)]
    if (tr.enabled) {
      upsertByRows = Store.upsertScaling(spark, store, upsertBatch(0), s"${ctx.runDir}/scaling",
        Seq(HistoryDays + 1, 2, 1).map(seedMeta.size.toLong / _))
      layers = BatchView.parseProbes(ctx, raw, templates) ++ Map(
        "log.plan_ms" -> tr.medianMs("log.plan"),
        "log.features_write_ms" -> tr.medianMs("log.features_write"),
        "log.sessions_write_ms" -> tr.medianMs("log.sessions_write"),
        "ml.train_ms" -> tr.medianMs("ml.train"),
        "store.upsert_ms" -> upsertMs,
        "store.pointer_ms" -> tr.medianMs("store.pointer"),
        "serve.read_plan_ms" -> tr.medianMs("serve.read_plan"),
        "serve.rows_scanned_per_result" -> scannedRecords.toDouble / math.max(resultRows, 1L),
        "jvm.gc_s" -> gcS, "host.steal_s" -> stealS,
        "host.sentinel_ms" -> Stats.median(Seq(sentinel0, sentinel1)),
        "trace.latency_ms" -> latency,
        "trace.overhead_pct" -> 100.0 * (ctx.listener.map(_.callbackNs.get).getOrElse(0L) +
          tr.bookkeepingNs.get) / 1e6 / measured.map(_.ms).sum,
      ) ++ ("latest" +: Traffic.OnDemand).map(k =>
        s"serve.${k}_ms" -> Stats.median(reads.filter(_.kind == k).map(_.ms))) ++
        Store.shape(spark, store) ++
        (for (a <- after; b <- before) yield Layers.spark(a - b, measured.size)).getOrElse(Map.empty)
    }

    Outcome(
      attempted = ops.size + views.size, failed = failed, correct = failed == 0,
      endToEnd = Map(
        "latency_ms" -> latency,
        "throughput_per_s" -> Traffic.UpsertRows / (upsertMs / 1000.0),
        "setup_s" -> (ctx.sessionS + Stats.median(setupReps.drop(SetupWarmupReps)))),
      layers = layers,
      info = Map(
        "workload" -> "serve_dashboard", "seed" -> seed,
        "input" -> Map("blocks" -> raw.blocks, "raw_sha256" -> raw.sha256,
          "raw_gen_s" -> raw.genS, "lines" -> raw.lines,
          "history_sha256" -> hist.sha256, "history_gen_s" -> hist.genS),
        "session_s" -> ctx.sessionS, "setup_reps_s" -> setupReps,
        "setup_warmup_reps" -> SetupWarmupReps,
        "seed_rows" -> seedMeta.size, "final_rows" -> expectedRows,
        "warmup_ticks" -> WarmupTicks, "ticks" -> (nTicks - WarmupTicks),
        "reads" -> reads.size, "upserts" -> ups.size, "upsert_rows" -> Traffic.UpsertRows,
        "read_p50_ms" -> latency,
        "read_p95_ms" -> (if (Stats.tailReportable(reads.size, 0.95))
          Stats.quantile(reads.map(_.ms), 0.95) else null),
        "upsert_p50_ms" -> upsertMs,
        "latest_p50_ms" -> Stats.median(reads.filter(_.kind == "latest").map(_.ms)),
        "warmup_upsert_ms" -> warm.filter(_.kind == "upsert").map(_.ms),
        "upsert_ms" -> ups.map(_.ms),
        "warmup_read_ms" -> warm.filter(_.kind != "upsert").map(_.ms),
        "read_ms" -> reads.map(_.ms),
        "checked_kinds" -> Traffic.checkedKinds(nTicks).toSeq.sorted,
        "upsert_ms_by_store_rows" -> upsertByRows.map { case (n, ms) => Seq(n, ms) },
        "lr_iterations" -> views.map(_._1.model.summary.totalIterations),
        "failures" -> (buildFailures.flatten ++ ops.flatMap(_.failures)).take(5),
        "gc_s" -> gcS, "steal_s" -> stealS,
        "sentinel_ms" -> Seq(sentinel0, sentinel1)))
  }
}
