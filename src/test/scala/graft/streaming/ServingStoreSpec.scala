package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.scalatest.time.{Seconds, Span}

import graft.SparkFixture

/** The serving store's snapshot protocol: every committed `v=N` carries
  * its own `_schema.json`, so a read resolves without the parquet
  * footer-inference job; sidecar-less (older) snapshots read exactly as
  * by inference; and a commit reaps by one listing of the store. */
class ServingStoreSpec extends AnyFunSuite with Matchers with SparkFixture with Eventually {

  /** Scored-store shaped rows: string key, long ts, timestamp,
    * array<int> features and a double score. */
  private def scored(from: Long, until: Long, shiftMs: Long = 0L): DataFrame =
    spark.range(from, until).select(
      format_string("blk_%05d", col("id")).as("block_id"),
      (col("id") * 1000L + shiftMs).as("ts_ms"),
      timestamp_seconds(col("id") + shiftMs / 1000L).as("end_ts"),
      array((col("id") % 3).cast("int"), lit(1)).as("features"),
      (col("id") % 100 / 100.0).as("proba"))

  private def newStore(tag: String): String =
    Files.createTempDirectory(s"graft-store-$tag").toString

  private def sidecar(store: String, v: Long): Path =
    Paths.get(store, s"v=$v", "_schema.json")

  private val groupSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Spark jobs `body` issues, counted by job group. The status store
    * is fed asynchronously, so a marker job runs after `body` and is
    * awaited: the status listener's queue is FIFO, so once the marker
    * is visible every job of `body` is too. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = groupSeq.incrementAndGet()
    val group = s"serving-store-spec-$n"
    val marker = s"serving-store-spec-marker-$n"
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    sc.setJobGroup(marker, marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    eventually(timeout(Span(30, Seconds))) {
      sc.statusTracker.getJobIdsForGroup(marker) should not be empty
    }
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  private def latest500(df: DataFrame): Array[Row] =
    df.orderBy(col("ts_ms").desc, col("block_id")).limit(500).collect()

  private def point(df: DataFrame): Array[Row] =
    df.filter(col("block_id") === "blk_00042").collect()

  test("a read resolves with its committed schema: one Spark job per point get and per latest-500 poll") {
    val store = newStore("jobs")
    ServingStore.upsert(scored(0, 2000), store, "block_id", 0L) shouldBe true
    val (v, _) = ServingStore.pointer(store)
    Files.exists(sidecar(store, v)) shouldBe true

    jobsOf(point(ServingStore.read(spark, store)).length shouldBe 1) shouldBe 1
    jobsOf(latest500(ServingStore.read(spark, store)).length shouldBe 500) shouldBe 1
    // Control: the same reads by inference pay the footer job.
    val inferred = () => spark.read.parquet(s"$store/v=$v")
    jobsOf(point(inferred())) shouldBe 2
    jobsOf(latest500(inferred())) shouldBe 2
  }

  test("an upsert onto a non-empty store issues one job fewer than by inference") {
    val withSchema = newStore("up-schema")
    val byInference = newStore("up-infer")
    Seq(withSchema, byInference).foreach { s =>
      ServingStore.upsert(scored(0, 2000), s, "block_id", 0L) shouldBe true
    }
    // A sidecar-less current version: the store as written before
    // snapshots carried their schema.
    Files.delete(sidecar(byInference, 1L))
    val batch = scored(1900, 2060, shiftMs = 86400000L)
    val pinned = jobsOf(ServingStore.upsert(batch, withSchema, "block_id", 1L) shouldBe true)
    val inferred = jobsOf(ServingStore.upsert(batch, byInference, "block_id", 1L) shouldBe true)
    pinned shouldBe inferred - 1
    ServingStore.read(spark, withSchema).collect().toSet shouldBe
      ServingStore.read(spark, byInference).collect().toSet
    // The inferred store's new version carries its sidecar again.
    Files.exists(sidecar(byInference, 2L)) shouldBe true
  }

  test("every commit kind reads back with the schema and rows inference gives") {
    val store = newStore("fidelity")
    def sameAsInference(): Unit = {
      val (v, _) = ServingStore.pointer(store)
      Files.exists(sidecar(store, v)) shouldBe true
      val viaStore = ServingStore.read(spark, store)
      val viaInference = spark.read.parquet(s"$store/v=$v")
      viaStore.schema shouldBe viaInference.schema
      viaStore.collect().toSet shouldBe viaInference.collect().toSet
    }
    ServingStore.upsert(scored(0, 300), store, "block_id", 0L) shouldBe true
    sameAsInference()
    ServingStore.upsert(scored(250, 400, shiftMs = 5000L), store, "block_id", 1L) shouldBe true
    sameAsInference()
    ServingStore.compact(spark, store) shouldBe true
    sameAsInference()
    ServingStore.delete(spark, store, "block_id", Seq("blk_00007", "blk_00301"), 2L) shouldBe true
    sameAsInference()
    val snap = ServingStore.read(spark, store)
    snap.count() shouldBe 398
    snap.schema.map(f => f.name -> f.dataType.simpleString) shouldBe Seq(
      "block_id" -> "string", "ts_ms" -> "bigint", "end_ts" -> "timestamp",
      "features" -> "array<int>", "proba" -> "double")

    // A version written before snapshots carried their schema reads
    // exactly as it did: by inference.
    val (v, _) = ServingStore.pointer(store)
    val before = snap.collect().toSet
    Files.delete(sidecar(store, v))
    val legacy = ServingStore.read(spark, store)
    legacy.schema shouldBe spark.read.parquet(s"$store/v=$v").schema
    legacy.collect().toSet shouldBe before
  }

  test("a commit reaps a crashed reap's orphan version and stale pointer temps, keeping the superseded version") {
    val store = newStore("reap")
    (0L to 2L).foreach { b =>
      ServingStore.upsert(scored(b * 100, b * 100 + 150), store, "block_id", b) shouldBe true
    }
    ServingStore.pointer(store) shouldBe ((3L, 2L))
    // A crash mid-reap leaves an older version behind, and a crash
    // between the pointer temp's write and its move leaves the temp.
    val orphan = Paths.get(store, "v=1")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("part-00000.parquet"), "torn")
    val staleTmp = Paths.get(store, "_CURRENT.tmp.9")
    Files.writeString(staleTmp, "9,8")

    ServingStore.upsert(scored(900, 960), store, "block_id", 3L) shouldBe true
    Files.exists(orphan) shouldBe false
    Files.exists(staleTmp) shouldBe false
    Files.exists(Paths.get(store, "v=2")) shouldBe false
    ServingStore.pointer(store) shouldBe ((4L, 3L))
    // The superseded version stays whole for in-flight readers.
    Files.exists(sidecar(store, 3L)) shouldBe true
    spark.read.parquet(s"$store/v=3").count() shouldBe 350
    ServingStore.read(spark, store).count() shouldBe 410
    val names = scala.util.Using.resource(Files.list(Paths.get(store))) { st =>
      st.iterator().asScala.map(_.getFileName.toString).toSet
    }
    names.filter(_.startsWith("v=")) shouldBe Set("v=3", "v=4")
    names.exists(_.startsWith("_CURRENT.tmp.")) shouldBe false
    // Replay of an applied batch is still a no-op.
    ServingStore.upsert(scored(0, 10), store, "block_id", 3L) shouldBe false
    ServingStore.pointer(store) shouldBe ((4L, 3L))
  }
}
