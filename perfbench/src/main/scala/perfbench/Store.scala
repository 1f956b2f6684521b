package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.streaming.ServingStore

/** Shape and pointer cost of a serving store, for the traced run. */
object Store {

  /** Size, file count and rows of the current snapshot. */
  def shape(spark: SparkSession, store: String): Map[String, Double] = {
    val (v, _) = ServingStore.pointer(store)
    val files = Option(new File(s"$store/v=$v").listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    Map("store.snapshot_mb" -> files.map(_.length).sum / 1048576.0,
      "store.files" -> files.length.toDouble,
      "store.rows" -> ServingStore.read(spark, store).count().toDouble)
  }

  /** Median wall of `ServingStore.pointer`. */
  def pointerMs(store: String): Double = Stats.median((1 to 50).map { _ =>
    val t0 = System.nanoTime()
    ServingStore.pointer(store)
    (System.nanoTime() - t0) / 1e6
  })

  /** Upsert wall against stores of several sizes, for the traced run:
    * for each row count, a store seeded with that many rows of `store`
    * takes the same `batch` three times; the median wall is kept. */
  def upsertScaling(spark: SparkSession, store: String, batch: DataFrame,
      dir: String, rowCounts: Seq[Long]): Seq[(Long, Double)] = {
    val all = ServingStore.read(spark, store).orderBy("block_id")
    rowCounts.map { n =>
      val probe = s"$dir/rows$n"
      ServingStore.upsert(all.limit(n.toInt), probe, "block_id", 0L)
      n -> Stats.median((1 to 3).map { k =>
        val t0 = System.nanoTime()
        ServingStore.upsert(batch, probe, "block_id", k.toLong)
        (System.nanoTime() - t0) / 1e6
      })
    }
  }
}
