package perfbench

import java.io.{BufferedInputStream, File}
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.log.{LogParser, Sessionize}
import graft.tools.MakeBigLogFixture

/** Seed-addressed inputs. Every input is a pure function of the seed;
  * a content hash recorded beside it shows the same seed gave the same
  * bytes. Generation is timed as info and kept out of `setup_s`. */
object Inputs {

  final case class RawLog(logDir: String, labelsPath: String, blocks: Int,
      lines: Long, bytes: Long, sha256: String, genS: Double)

  /** Raw HDFS log of `blocks` synthetic blocks plus the golden block,
    * made by the repository's own fixture generator. Its seed-keyed
    * reuse makes a repeated seed skip generation. */
  def rawLog(spark: SparkSession, work: String, blocks: Int, seed: Long): RawLog = {
    val t0 = System.nanoTime()
    val f = MakeBigLogFixture.ensure(spark, s"$work/inputs", blocks, seed, parts = 8)
    val sha = cachedHash(s"${f.logDir}.sha256", Seq(f.logDir, f.labelsPath))
    RawLog(f.logDir, f.labelsPath, blocks, f.nLines, f.bytes, sha,
      (System.nanoTime() - t0) / 1e9)
  }

  /** The fixture's labels as the pipeline's `(block_id, label)` dimension. */
  def labels(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)
      .select(col("BlockId").as("block_id"), col("Label").as("label"))

  /** The fixture's block sessions (the stream's message payloads),
    * derived once per seed with the batch layer's own sessionizer. */
  def sessions(spark: SparkSession, raw: RawLog): DataFrame = {
    val dir = s"${raw.logDir}_sessions"
    if (!Files.exists(Paths.get(dir, "_SUCCESS")))
      Sessionize.sessions(LogParser.withBlock(LogParser.parse(spark.read.text(raw.logDir))))
        .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** Sessions in a seed-keyed pseudo-random order, ties broken by id. */
  def shuffled(sessions: DataFrame, seed: Long): DataFrame =
    sessions.orderBy(xxhash64(col("block_id"), lit(seed)), col("block_id"))

  /** SHA-256 over the data files under `dirs`, in path order. Computed
    * once and stored in `hashFile`. */
  def cachedHash(hashFile: String, dirs: Seq[String]): String = {
    val p = Paths.get(hashFile)
    if (Files.isRegularFile(p)) Files.readString(p).trim
    else {
      val h = sha256Files(dirs)
      Files.writeString(p, h)
      h
    }
  }

  def sha256Files(dirs: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val buf = new Array[Byte](1 << 16)
    def files(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File])
        .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith("."))
        .sortBy(_.getName).toSeq.flatMap(files)
      else Seq(f)
    dirs.flatMap(d => files(new File(d))).foreach { f =>
      val in = new BufferedInputStream(Files.newInputStream(f.toPath))
      try {
        var n = in.read(buf)
        while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
      } finally in.close()
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  def sha256(lines: Iterable[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }
}
