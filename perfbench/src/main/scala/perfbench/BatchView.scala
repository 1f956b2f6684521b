package perfbench

import org.apache.spark.ml.classification.LogisticRegressionModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.log.{BatchPipeline, Features, LogParser, Templates}
import graft.ml.Pipeline
import graft.tools.GoldenBlock

/** The batch layer's op: raw-log directory → `BatchPipeline.run` →
  * features and sessions written → LR trained on the labelled
  * features. serve_dashboard builds its store's batch view with it in
  * set-up; spans around each call give the log and ml layers. */
object BatchView {

  /** LBFGS iteration cap, below the iterations any seed needs to
    * converge: with `tol = 0` every build trains exactly this many. */
  val MaxIter = 5

  final case class Built(features: String, sessions: String, model: LogisticRegressionModel)

  def train(features: DataFrame, templateIds: Seq[String]): LogisticRegressionModel = {
    val indexed = Pipeline.indexLabel(features.filter(col("label").isNotNull))
    val weighted = Features.withClassWeights(indexed, "label_index")
    Pipeline.trainLR(Pipeline.assemble(weighted, templateIds), maxIter = MaxIter, tol = 0.0)
  }

  def build(ctx: Ctx, raw: Inputs.RawLog, templates: Seq[Templates.Template],
      out: String, op: Int): Built = {
    val spark = ctx.spark
    val tr = ctx.trace
    val labels = Inputs.labels(spark, raw.labelsPath)
    val (features, sessions) = tr.span(op, "log.plan", "setup") {
      BatchPipeline.run(spark, raw.logDir, ctx.templatesPath, labels)
    }
    tr.span(op, "log.features_write", "setup") {
      features.write.mode("overwrite").parquet(s"$out/features")
    }
    tr.span(op, "log.sessions_write", "setup") {
      sessions.write.mode("overwrite").parquet(s"$out/sessions")
    }
    val model = tr.span(op, "ml.train", "setup") {
      train(spark.read.parquet(s"$out/features"), templates.map(_.id))
    }
    Built(s"$out/features", s"$out/sessions", model)
  }

  /** The batch checks on one build's written outputs. */
  def check(spark: SparkSession, raw: Inputs.RawLog, ids: Seq[String], b: Built): Seq[String] = {
    val sess = spark.read.parquet(b.sessions)
    val feats = spark.read.parquet(b.features)
    val agg = sess.agg(count(lit(1)), countDistinct(col("block_id"))).head()
    val golden = col("block_id") === GoldenBlock.BlockId
    val gSess = sess.filter(golden).select(
        date_format(col("start_ts"), "yyyy-MM-dd HH:mm:ss"),
        date_format(col("end_ts"), "yyyy-MM-dd HH:mm:ss"),
        col("duration_sec"), col("num_lines"), col("label"))
      .collect().toSeq.map(r => Checks.Session(r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getString(4)))
    val gFeat = feats.filter(golden).select(ids.map(col): _*).collect().toSeq
      .map(r => ids.zipWithIndex.map { case (id, j) => id -> r.getInt(j) }.toMap)
    Checks.batch(raw.blocks + 1L, agg.getLong(0), agg.getLong(1), feats.count(),
      ids, gFeat, gSess, b.model.coefficients.size)
  }

  /** Parse and template self time, for the traced run: the same scan
    * into a noop sink with one more layer each time; a layer's time is
    * the difference to the one below it. The probes alternate, so host
    * drift hits each alike. */
  def parseProbes(ctx: Ctx, raw: Inputs.RawLog, templates: Seq[Templates.Template]): Map[String, Double] = {
    val tr = ctx.trace
    def scan = ctx.spark.read.text(raw.logDir)
    def parsed = LogParser.withBlock(LogParser.parse(scan))
    val probes = Seq("log.scan" -> (() => scan), "log.parse" -> (() => parsed),
      "log.template" -> (() => Templates.tagNative(parsed, templates)))
    for (rep <- 1 to 5; (name, df) <- probes) tr.span(-rep, name, "probe") {
      df().write.format("noop").mode("overwrite").save()
    }
    Map("log.parse_ms" -> (tr.medianMs("log.parse") - tr.medianMs("log.scan")),
      "log.template_ms" -> (tr.medianMs("log.template") - tr.medianMs("log.parse")))
  }
}
