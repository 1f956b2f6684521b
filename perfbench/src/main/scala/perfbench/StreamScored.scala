package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.log.Templates
import graft.ml.Scorer
import graft.streaming.{ServingStore, StreamMessages, StreamPipeline, StreamTransform}

/** stream_scored: open loop at a fixed rate, a fixed message count, a
  * store that starts empty. A generator lands JSON block-session
  * messages (sessions sampled from the raw-log fixture) as files that
  * `StreamPipeline.run` watches. Each message is timed from the moment
  * it was due to the commit of the store version that holds it. The
  * per-message enrich and the fixed per-micro-batch floor dominate;
  * the store stays small. */
object StreamScored {

  /** Fixture size: enough sessions to sample every message from. */
  val Blocks = 3000
  /** Messages per second, about half the closed-loop capacity of four
    * cores (see `BurstMsgs`), so the stream keeps up to the end. */
  val Rate = 160.0
  /** Messages the setup's first micro-batch carries. */
  val PrimingMsgs = 100
  /** Messages due in this first part of the schedule are warm-up. */
  val WarmupS = 3.0
  /** The generator lands one file per tick with the messages due in it. */
  val TickMs = 100L
  /** A message committed later than this after its due time failed. */
  val LimitMs = 10000.0
  /** Set-up runs this many times; the first `SetupWarmupReps` warm up. */
  val SetupReps = 4
  val SetupWarmupReps = 2
  val SampledRows = 64
  /** Closed-loop capacity: backlogs of this many messages land at once
    * after the open loop; each drains in one micro-batch. */
  val BurstMsgs = 200
  val Bursts = 3

  /** The deployed scorer's shape with fixed weights, so scores do not
    * depend on a training run. */
  def scorer(templates: Seq[Templates.Template]): Scorer =
    Scorer.LinearScorer(templates.indices.map(i => (i % 5 - 2) * 0.1), -0.5)

  /** `n` JSON messages: sessions of the fixture in seed order. */
  def messages(spark: SparkSession, raw: Inputs.RawLog, n: Int, seed: Long): (Seq[String], String) = {
    val path = Paths.get(s"${raw.logDir}_messages_$n.jsonl")
    if (!Files.isRegularFile(path)) {
      val json = StreamMessages.toJson(
        Inputs.shuffled(Inputs.sessions(spark, raw), seed).limit(n))
        .collect().map(_.getString(0))
      require(json.length == n, s"fixture has ${json.length} sessions, need $n")
      val tmp = Paths.get(s"$path.tmp")
      Files.write(tmp, json.toSeq.asJava)
      Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE)
    }
    val lines = Files.readAllLines(path).asScala.toSeq
    (lines, Inputs.sha256(lines))
  }

  private val BlockIdRe = "\"block_id\":\"([^\"]+)\"".r.unanchored
  def blockOf(json: String): String = json match {
    case BlockIdRe(id) => id
    case _ => throw new IllegalStateException(s"message without block_id: ${json.take(80)}")
  }

  /** Write to a hidden temp name, then move into the watched
    * directory, so the source sees a whole file or none. */
  def land(dir: Path, name: String, lines: Seq[String]): Unit = {
    val tmp = dir.resolve(s".$name.tmp")
    Files.write(tmp, lines.asJava)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** The file-source log of a checkpoint: landed file name → the
    * micro-batch that consumed it. */
  def fileBatches(ckpt: String): Map[String, Long] = {
    val PathRe = "\"path\":\"([^\"]+)\"".r.unanchored
    val BatchRe = "\"batchId\":(\\d+)".r.unanchored
    val dir = Paths.get(ckpt, "sources", "0")
    Files.list(dir).iterator().asScala.toSeq
      .filter(p => !p.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala.drop(1))
      .collect { case l @ PathRe(path) => l match {
        case BatchRe(b) => Paths.get(new java.net.URI(path)).getFileName.toString -> b.toLong
      } }
      .toMap
  }

  final class ProgressLog extends StreamingQueryListener {
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      progress.add(e.progress); ()
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Records when each batch id first shows in the store pointer. */
  final class PointerWatch(store: String) extends Thread("pointer-watch") {
    setDaemon(true)
    val done = new AtomicBoolean(false)
    val seen = new ConcurrentLinkedQueue[(Long, Long)]() // (batch id, ns)
    @volatile var last = -1L
    override def run(): Unit = while (!done.get) {
      val b = scala.util.Try(ServingStore.pointer(store)._2).getOrElse(-1L)
      if (b > last) { seen.add(b -> System.nanoTime()); last = b }
      Thread.sleep(2)
    }
    /** First time the pointer covered batch `b`. */
    def commitNs(b: Long): Option[Long] =
      seen.asScala.filter(_._1 >= b).map(_._2).minOption
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.trace
    val seed = ctx.args.seed
    val raw = Inputs.rawLog(spark, ctx.args.work, Blocks, seed)
    val nMsgs = math.round(Rate * (WarmupS + ctx.args.seconds)).toInt
    val g0 = System.nanoTime()
    val (all, sha) = messages(spark, raw, PrimingMsgs + nMsgs + Bursts * BurstMsgs, seed)
    val msgGenS = (System.nanoTime() - g0) / 1e9
    val priming = all.take(PrimingMsgs)
    val msgs = all.slice(PrimingMsgs, PrimingMsgs + nMsgs).toIndexedSeq
    val bursts = all.drop(PrimingMsgs + nMsgs).grouped(BurstMsgs).toSeq
    val log = new ProgressLog
    ctx.phase("inputs")
    spark.streams.addListener(log)

    var templates = Seq.empty[Templates.Template]
    var query: StreamingQuery = null
    var store, ckpt = ""
    var src: Path = null
    val setupReps = (1 to SetupReps).map { rep =>
      if (query != null) query.stop()
      val t0 = System.nanoTime()
      templates = Templates.load(spark, ctx.templatesPath)
      val dir = s"${ctx.runDir}/rep$rep"
      store = s"$dir/store"; ckpt = s"$dir/checkpoint"
      src = Files.createDirectories(Paths.get(dir, "source"))
      query = StreamPipeline.run(
        spark.readStream.text(src.toString).select(col("value")),
        templates, scorer(templates), store, ckpt)
      land(src, "priming.jsonl", priming)
      query.processAllAvailable()
      (System.nanoTime() - t0) / 1e9
    }
    val primingBatch = ServingStore.pointer(store)._2
    ctx.phase("setup")

    // The open loop: message i is due at start + i / Rate; each tick
    // lands every message due by then as one file.
    val watch = new PointerWatch(store)
    watch.start()
    val gc0 = graft.Bench.gcSnap()._1; val steal0 = graft.Bench.sysSnap().stealJiffies
    val sentinel0 = graft.Bench.sentinel() * 1000
    val before = ctx.listener.map(_.snapshot())
    val tickNs = TickMs * 1000000L
    val start = System.nanoTime() + tickNs
    val due = msgs.indices.map(i => start + math.round(i * 1e9 / Rate))
    val fileOf = new Array[String](msgs.size)
    val lateMs = mutable.ArrayBuffer.empty[Double]
    var next = 0
    var tick = 1
    while (next < msgs.size) {
      val at = start + tick * tickNs
      val wait = at - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      val landNs = System.nanoTime()
      var end = next
      while (end < msgs.size && due(end) <= at) end += 1
      if (end > next) {
        val name = f"m-$tick%06d.jsonl"
        land(src, name, msgs.slice(next, end))
        (next until end).foreach(fileOf(_) = name)
        lateMs += (landNs - at) / 1e6
        next = end
      }
      tick += 1
    }
    query.processAllAvailable()
    val lastBatch = ServingStore.pointer(store)._2
    val waitUntil = System.nanoTime() + 2000000000L
    while (watch.last < lastBatch && System.nanoTime() < waitUntil) Thread.sleep(1)
    watch.done.set(true)
    watch.join()
    val after = ctx.listener.map(_.snapshot())
    val sentinel1 = graft.Bench.sentinel() * 1000
    val gcS = (graft.Bench.gcSnap()._1 - gc0) / 1000.0
    val stealS = (graft.Bench.sysSnap().stealJiffies - steal0) / 100.0

    ctx.phase("open_loop")
    val burstS = bursts.zipWithIndex.map { case (b, k) =>
      val t0 = System.nanoTime()
      land(src, f"burst-$k%02d.jsonl", b)
      query.processAllAvailable()
      (System.nanoTime() - t0) / 1e9
    }
    val finalBatch = ServingStore.pointer(store)._2
    ctx.phase("bursts")

    val batchOf = fileBatches(ckpt)
    val freshMs: IndexedSeq[Option[Double]] = msgs.indices.map { i =>
      batchOf.get(fileOf(i)).flatMap(watch.commitNs).map(c => (c - due(i)) / 1e6)
    }
    val progress = log.progress.asScala.toSeq
      .filter(p => p.id == query.id && p.batchId > primingBatch && p.batchId <= lastBatch)

    // Checks: the store against what was delivered, and sampled scores
    // against the batch-form enrich of the same messages.
    val ids = msgs.map(blockOf)
    val storeIds = ServingStore.read(spark, store).select("block_id").collect().map(_.getString(0)).toSeq
    val rng = new Random(seed)
    val sample = rng.shuffle(msgs.indices.toList).take(SampledRows).map(msgs)
    val sc = scorer(templates)
    def probas(df: DataFrame): Map[String, Double] =
      df.select("block_id", "proba").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val sampleIds = sample.map(blockOf).toSet
    val stored = probas(ServingStore.read(spark, store).filter(col("block_id").isin(sampleIds.toSeq: _*)))
    import spark.implicits._
    val batchForm = probas(StreamTransform.enrich(
      StreamMessages.parse(sample.toDF("value")), templates, sc))
    val pairs = sampleIds.toSeq.map(id => (id, stored.getOrElse(id, Double.NaN), batchForm.getOrElse(id, Double.NaN)))
    val (failures, badIds) = Checks.stream(
      (priming ++ bursts.flatten).map(blockOf) ++ ids, storeIds, pairs)
    val late = msgs.indices.filter(i => freshMs(i).forall(_ > LimitMs)).map(ids).toSet
    val failed = (late ++ (badIds -- priming.map(blockOf))).size.toLong +
      (if (failures.exists(_.contains("undelivered"))) 1L else 0L)

    val gated = msgs.indices.filter(i => due(i) >= start + (WarmupS * 1e9).toLong)
      .flatMap(freshMs(_))
    val latency = Stats.median(gated)

    var layers = Map.empty[String, Double]
    ctx.phase("checks")
    if (tr.enabled) {
      def med(key: String): Double =
        Stats.median(progress.map(_.durationMs.getOrDefault(key, 0L).toDouble))
      // Enrich and upsert, timed directly on a recorded batch: the
      // measured batch of median size.
      val bySize = progress.sortBy(_.numInputRows)
      val rec = bySize(bySize.size / 2).batchId
      val recFiles = batchOf.filter(_._2 == rec).keySet
      val recMsgs = msgs.indices.filter(i => recFiles(fileOf(i))).map(msgs)
      val frame = StreamMessages.parse(recMsgs.toDF("value")).cache()
      frame.count()
      val enrichMs = Stats.median((1 to 3).map { _ =>
        tr.span(0, "stream.enrich", "probe") {
          val t0 = System.nanoTime()
          StreamTransform.enrichLocal(frame, templates, sc).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e6
        }
      })
      val enriched = StreamTransform.enrichLocal(frame, templates, sc).cache()
      enriched.count()
      val upsertMs = Stats.median((1 to 3).map { k =>
        tr.span(0, "store.upsert", "probe") {
          val t0 = System.nanoTime()
          ServingStore.upsert(enriched, store, "block_id", finalBatch + k)
          (System.nanoTime() - t0) / 1e6
        }
      })
      layers = Map(
        "stream.add_batch_ms" -> med("addBatch"),
        "stream.query_planning_ms" -> med("queryPlanning"),
        "stream.wal_commit_ms" -> med("walCommit"),
        "stream.batch_rows" -> Stats.median(progress.map(_.numInputRows.toDouble)),
        "stream.batches" -> progress.size.toDouble,
        "stream.enrich_ms" -> enrichMs,
        "store.upsert_ms" -> upsertMs,
        "store.pointer_ms" -> Store.pointerMs(store),
        "jvm.gc_s" -> gcS, "host.steal_s" -> stealS,
        "host.sentinel_ms" -> Stats.median(Seq(sentinel0, sentinel1)),
        "trace.latency_ms" -> latency,
        "trace.overhead_pct" -> 100.0 * (ctx.listener.map(_.callbackNs.get).getOrElse(0L) +
          tr.bookkeepingNs.get) / 1e9 / (msgs.size / Rate),
      ) ++ Store.shape(spark, store) ++
        (for (a <- after; b <- before) yield Layers.spark(a - b, progress.size)).getOrElse(Map.empty)
    }
    query.stop()

    ctx.phase("traced")
    Outcome(
      attempted = msgs.size, failed = failed, correct = failures.isEmpty && failed == 0,
      endToEnd = Map(
        "latency_ms" -> latency,
        "throughput_per_s" -> BurstMsgs / Stats.median(burstS),
        "setup_s" -> (ctx.sessionS + Stats.median(setupReps.drop(SetupWarmupReps)))),
      layers = layers,
      info = Map(
        "workload" -> "stream_scored", "seed" -> seed,
        "input" -> Map("blocks" -> raw.blocks, "raw_sha256" -> raw.sha256,
          "raw_gen_s" -> raw.genS, "messages" -> all.size,
          "messages_sha256" -> sha, "messages_gen_s" -> msgGenS),
        "session_s" -> ctx.sessionS, "setup_reps_s" -> setupReps,
        "setup_warmup_reps" -> SetupWarmupReps,
        "rate_per_s" -> Rate, "messages" -> msgs.size, "warmup_s" -> WarmupS,
        "gated_messages" -> gated.size,
        "fresh_p50_ms" -> latency,
        "fresh_p95_ms" -> (if (Stats.tailReportable(gated.size, 0.95)) Stats.quantile(gated, 0.95) else null),
        "batches" -> progress.size,
        "batch_walls_ms" -> progress.map(_.durationMs.getOrDefault("triggerExecution", 0L).toLong),
        "batch_rows" -> progress.map(_.numInputRows),
        "burst_s" -> burstS,
        "generator_late_ms_p50" -> Stats.median(lateMs.toSeq),
        "generator_late_ms_max" -> lateMs.max,
        "failures" -> failures.take(5), "late" -> late.size,
        "gc_s" -> gcS, "steal_s" -> stealS,
        "sentinel_ms" -> Seq(sentinel0, sentinel1)))
  }
}
