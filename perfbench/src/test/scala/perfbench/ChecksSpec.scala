package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.GoldenBlock

/** The benchmark's output checks report corrupted outputs as failures:
  * each test feeds a check the correct output once, then with one
  * defect, and expects the defect to be reported. */
class ChecksSpec extends AnyFunSuite {

  private val ids = (1 to 29).map(i => s"E$i")
  private val features = ids.map(id => id -> GoldenBlock.FeatureCounts.getOrElse(id, 0)).toMap
  private val session = Checks.Session("2008-11-10 01:19:42", "2008-11-10 10:36:17",
    GoldenBlock.DurationSec, GoldenBlock.Lines.length.toLong, GoldenBlock.Label)

  private def batch(sessionRows: Long = 101, distinct: Long = 101, featureRows: Long = 101,
      templateIds: Seq[String] = ids, golden: Seq[Map[String, Int]] = Seq(features),
      sessions: Seq[Checks.Session] = Seq(session), coefficients: Int = 29): Seq[String] =
    Checks.batch(101, sessionRows, distinct, featureRows, templateIds, golden, sessions, coefficients)

  test("batch: the correct output passes") {
    assert(batch().isEmpty)
  }

  test("batch: a wrong golden feature count is a failure") {
    assert(batch(golden = Seq(features.updated("E3", 7))).exists(_.contains("golden features")))
  }

  test("batch: a missing feature column is a failure") {
    assert(batch(golden = Seq(features - "E29")).nonEmpty)
  }

  test("batch: a dropped or duplicated session is a failure") {
    assert(batch(sessionRows = 100, distinct = 100).exists(_.contains("sessions")))
    assert(batch(distinct = 100).exists(_.contains("distinct ids")))
  }

  test("batch: a wrong golden session is a failure") {
    assert(batch(sessions = Seq(session.copy(numLines = 30))).exists(_.contains("golden session")))
    assert(batch(sessions = Nil).nonEmpty)
  }

  test("batch: a model without one coefficient per template is a failure") {
    assert(batch(coefficients = 28).exists(_.contains("coefficients")))
  }

  private val delivered = Seq("blk_1", "blk_2", "blk_3")
  private val scored = Seq(("blk_1", 0.25, 0.25), ("blk_3", 0.9, 0.9))

  test("stream: the correct output passes") {
    assert(Checks.stream(delivered, delivered.reverse, scored) == (Nil -> Set.empty))
  }

  test("stream: a dropped message is a failure on that message") {
    val (failures, bad) = Checks.stream(delivered, Seq("blk_1", "blk_3"), scored)
    assert(failures.exists(_.contains("misses 1")))
    assert(bad == Set("blk_2"))
  }

  test("stream: a message stored twice is a failure") {
    val (failures, bad) = Checks.stream(delivered, delivered :+ "blk_2", scored)
    assert(failures.exists(_.contains("more than once")))
    assert(bad == Set("blk_2"))
  }

  test("stream: an undelivered row in the store is a failure") {
    assert(Checks.stream(delivered, delivered :+ "blk_9", scored)._1.exists(_.contains("undelivered")))
  }

  test("stream: a score that differs from the batch form is a failure") {
    val (failures, bad) = Checks.stream(delivered, delivered, Seq(("blk_1", 0.25, 0.2500001)))
    assert(failures.exists(_.contains("score differently")))
    assert(bad == Set("blk_1"))
  }

  private val snapshot = Seq(
    Checks.Row("blk_-1230001", 3000L, 0.95), Checks.Row("blk_-1230002", 1000L, 0.10),
    Checks.Row("blk_4560003", 2000L, 0.85), Checks.Row("blk_7890004", 4000L, 0.50))
  private val reads = Seq(Checks.Latest(2), Checks.Prefix("blk_-123"),
    Checks.Range(1000L, 3000L), Checks.TopK(0.83, 1), Checks.Point("blk_4560003"))

  test("serve: reads equal to the recompute pass") {
    reads.foreach { r =>
      assert(Checks.serve(r, Checks.recompute(r, snapshot), snapshot, 4).isEmpty, r)
    }
    assert(Checks.recompute(Checks.Latest(2), snapshot).map(_.blockId) ==
      Seq("blk_7890004", "blk_-1230001"))
    assert(Checks.recompute(Checks.TopK(0.83, 5), snapshot).map(_.blockId) ==
      Seq("blk_-1230001", "blk_4560003"))
  }

  test("serve: a read that drops, reorders or alters a row is a failure") {
    reads.foreach { r =>
      val want = Checks.recompute(r, snapshot)
      assert(Checks.serve(r, want.drop(1), snapshot, 4).nonEmpty, r)
      if (want.size > 1) assert(Checks.serve(r, want.reverse, snapshot, 4).nonEmpty, r)
      assert(Checks.serve(r, want.map(_.copy(proba = 0.0)), snapshot, 4).nonEmpty, r)
    }
  }

  test("serve: a store with lost or duplicated rows is a failure") {
    val r = Checks.Point("blk_4560003")
    assert(Checks.serve(r, Checks.recompute(r, snapshot), snapshot, 5).exists(_.contains("want 5")))
    val dup = snapshot :+ snapshot.head
    assert(Checks.serve(r, Checks.recompute(r, dup), dup, 5).exists(_.contains("duplicate")))
  }

  test("serve: every read kind is checked, down to the shortest run") {
    import ServeDashboard.Traffic
    Seq(1, 10, 60).foreach { s =>
      assert(Traffic.checkedKinds(Traffic.ticks(s)) == reads.map(_.kind).toSet, s)
    }
  }
}
