package perfbench

/** Output checks, one set per workload. Each returns the failures it
  * found; an op with any failure counts as failed. They take plain
  * values so the self-test can feed them corrupted outputs. */
object Checks {

  /** A golden-block session as collected from the sessions output. */
  final case class Session(startTs: String, endTs: String, durationSec: Long,
      numLines: Long, label: String)

  /** The batch view build: one session per distinct block, the golden
    * block's features and session as the reference documents them, and
    * one model coefficient per template. */
  def batch(expectedBlocks: Long, sessionRows: Long, distinctSessionIds: Long,
      featureRows: Long, templateIds: Seq[String],
      goldenFeatures: Seq[Map[String, Int]], goldenSessions: Seq[Session],
      coefficients: Int): Seq[String] = {
    import graft.tools.GoldenBlock
    val want = templateIds.map(id => id -> GoldenBlock.FeatureCounts.getOrElse(id, 0)).toMap
    val wantSession = Session("2008-11-10 01:19:42", "2008-11-10 10:36:17",
      GoldenBlock.DurationSec, GoldenBlock.Lines.length.toLong, GoldenBlock.Label)
    Seq(
      (sessionRows != expectedBlocks) ->
        s"sessions: $sessionRows rows, want $expectedBlocks distinct blocks",
      (distinctSessionIds != sessionRows) ->
        s"sessions: $distinctSessionIds distinct ids in $sessionRows rows",
      (featureRows != expectedBlocks) ->
        s"features: $featureRows rows, want $expectedBlocks",
      (goldenFeatures != Seq(want)) ->
        s"golden features: got $goldenFeatures, want $want",
      (goldenSessions != Seq(wantSession)) ->
        s"golden session: got $goldenSessions, want $wantSession",
      (coefficients != templateIds.length) ->
        s"model: $coefficients coefficients, want ${templateIds.length}",
    ).collect { case (true, msg) => msg }
  }

  /** stream_scored: every delivered block is in the store exactly once
    * and nothing else is, and each sampled row's stored `proba` equals
    * the scorer applied in batch form. Also returns the delivered
    * blocks the failures touch. */
  def stream(delivered: Seq[String], storeIds: Seq[String],
      sampled: Seq[(String, Double, Double)]): (Seq[String], Set[String]) = {
    val counts = storeIds.groupBy(identity).view.mapValues(_.size).toMap
    val missing = delivered.filterNot(counts.contains)
    val dup = counts.filter(_._2 > 1).keys.toSeq
    val extra = counts.keySet -- delivered
    val wrong = sampled.filter { case (_, got, want) => math.abs(got - want) > 1e-12 }
    val msgs = Seq(
      missing.nonEmpty -> s"store misses ${missing.size} delivered blocks, e.g. ${missing.take(3)}",
      dup.nonEmpty -> s"store holds ${dup.size} blocks more than once, e.g. ${dup.take(3)}",
      extra.nonEmpty -> s"store holds ${extra.size} undelivered blocks",
      wrong.nonEmpty -> s"${wrong.size} sampled rows score differently in batch form, e.g. ${wrong.take(2)}",
    ).collect { case (true, msg) => msg }
    (msgs, missing.toSet ++ dup ++ wrong.map(_._1))
  }

  /** A store row as the dashboard reads it. */
  final case class Row(blockId: String, tsMs: Long, proba: Double)

  /** The dashboard's read types, as queries over the store. */
  sealed trait Read { def kind: String }
  final case class Latest(n: Int) extends Read { val kind = "latest" }
  final case class Prefix(prefix: String) extends Read { val kind = "prefix" }
  final case class Range(fromMs: Long, toMs: Long) extends Read { val kind = "range" }
  final case class TopK(minProba: Double, k: Int) extends Read { val kind = "topk" }
  final case class Point(blockId: String) extends Read { val kind = "point" }

  /** The answer to `read` recomputed from a collected snapshot. */
  def recompute(read: Read, snapshot: Seq[Row]): Seq[Row] = read match {
    case Latest(n) => snapshot.sortBy(r => (-r.tsMs, r.blockId)).take(n)
    case Prefix(p) => snapshot.filter(_.blockId.startsWith(p)).sortBy(_.blockId)
    case Range(a, b) => snapshot.filter(r => r.tsMs >= a && r.tsMs <= b).sortBy(_.blockId)
    case TopK(m, k) => snapshot.filter(_.proba >= m).sortBy(r => (-r.proba, r.blockId)).take(k)
    case Point(id) => snapshot.filter(_.blockId == id)
  }

  /** serve_dashboard: a sampled read equals its recompute over the
    * snapshot, and the snapshot holds the rows the upserts imply. */
  def serve(read: Read, got: Seq[Row], snapshot: Seq[Row], expectedRows: Long): Seq[String] = {
    val want = recompute(read, snapshot)
    Seq(
      (got != want) -> s"${read.kind} read $read: ${got.size} rows differ from recompute (${want.size} rows)",
      (snapshot.size.toLong != expectedRows) -> s"store: ${snapshot.size} rows, want $expectedRows",
      (snapshot.map(_.blockId).distinct.size != snapshot.size) -> "store: duplicate keys",
    ).collect { case (true, msg) => msg }
  }
}
