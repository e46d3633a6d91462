package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Bench's gate rules and probe table, without Spark: each rule is
  * pinned on the inputs at its boundaries, and every table name is
  * checked against the query registry so a typo fails here rather than
  * reading -4 in a bench record.
  */
class BenchSpec extends AnyFunSuite {
  import Bench._

  test("medMin: median of the valid samples (mean of the middle two), min, -1 when none") {
    assert(medMin(Nil) == ((-1.0, -1.0)))
    assert(medMin(Seq(-1.0, -2.0)) == ((-1.0, -1.0)))
    assert(medMin(Seq(-1.0, 2.0)) == ((2.0, 2.0)))
    assert(medMin(Seq(3.0, 1.0)) == ((2.0, 1.0)))
    assert(medMin(Seq(3.0, 1.0, 2.0)) == ((2.0, 1.0)))
  }

  test("regressed: min > 2x pin x ratio AND > pin x ratio + 0.25 s") {
    assert(!regressed(2.0, 1.0, 1.0))
    assert(regressed(2.001, 1.0, 1.0))
    // sub-second pin: the 0.25 s floor decides
    assert(!regressed(0.35, 0.1, 1.0))
    assert(regressed(0.351, 0.1, 1.0))
    // the env ratio scales both halves
    assert(!regressed(3.0, 1.0, 1.5))
    assert(regressed(3.001, 1.0, 1.5))
  }

  test("envRatio: upper-middle min/pin over pins > 0.05, floored at 1") {
    val pins = Map("a" -> 1.0, "b" -> 1.0, "c" -> 0.05, "d" -> 2.0)
    // c is excluded (pin not > 0.05), unpinned and negative mins too
    assert(envRatio(Seq("a" -> 1.5, "b" -> 3.0, "c" -> 10.0, "d" -> 2.0,
      "e" -> 9.0, "f" -> -1.0), pins) == 1.5)
    // even count: the upper middle, not the mean
    assert(envRatio(Seq("a" -> 1.0, "b" -> 2.0), pins) == 2.0)
    assert(envRatio(Seq("a" -> 0.5, "b" -> 0.8), pins) == 1.0)
    assert(envRatio(Nil, pins) == 1.0)
    assert(envRatio(Seq("c" -> 5.0), pins) == 1.0)
  }

  test("fastConfirmSkip: all valid samples <= 3 s and no gate trip at ratio 1") {
    assert(fastConfirmSkip(Seq(3.0), None))
    assert(!fastConfirmSkip(Seq(3.01), None))
    assert(!fastConfirmSkip(Nil, None))
    assert(!fastConfirmSkip(Seq(-1.0), None))
    assert(fastConfirmSkip(Seq(-1.0, 2.0), None))
    assert(fastConfirmSkip(Seq(2.0), Some(1.0)))
    // 2.5 > 2 x 1.0 and > 1.0 + 0.25: earns the confirming run
    assert(!fastConfirmSkip(Seq(2.5), Some(1.0)))
    // above 2x but under pin + 0.25: cannot flag, so it skips
    assert(fastConfirmSkip(Seq(0.3), Some(0.1)))
  }

  /** Runs the pinned-row rule over a scripted sample sequence; returns
    * (min, load suspect, samples taken). */
  private def pinned(ceiling: Int, pin: Option[Double], samples: Double*)(
      budget: Int => Boolean = _ => true): (Double, Boolean, Int) = {
    var taken = 0
    val (best, suspect) = pinnedRow(ceiling, pin, () => budget(taken)) { () =>
      taken += 1
      samples(taken - 1)
    }
    (best, suspect, taken)
  }

  test("pinnedRow: fast keep at max(15, 0.5 x ceiling) or 1.5 x pin") {
    assert(pinned(180, None, 90.0)() == ((90.0, false, 1)))
    assert(pinned(180, None, 90.5, 80.0)() == ((80.0, false, 2)))
    assert(pinned(20, None, 15.0)() == ((15.0, false, 1)))
    assert(pinned(20, None, 15.5, 16.0)() == ((15.5, false, 2)))
    assert(pinned(20, Some(20.0), 30.0)() == ((30.0, false, 1)))
    assert(pinned(20, Some(20.0), 30.5, 31.0)() == ((30.5, false, 2)))
    // a timeout or failure is the finding: never retried
    assert(pinned(180, Some(1.0), -2.0)() == ((-2.0, false, 1)))
  }

  test("pinnedRow: 3x bar earns up to two extra samples; unpinned rows one") {
    // under the fast threshold but above 3 x pin
    assert(pinned(300, Some(10.0), 31.0, 40.0, 35.0)() == ((31.0, true, 3)))
    assert(pinned(300, Some(10.0), 31.0, 29.0)() == ((29.0, false, 2)))
    assert(pinned(300, Some(10.0), 31.0, 40.0, 30.0)() == ((30.0, false, 3)))
    // a failed extra sample does not replace the min
    assert(pinned(300, Some(10.0), 31.0, -2.0, -1.0)() == ((31.0, true, 3)))
    // unpinned: one confirming sample, however slow
    assert(pinned(20, None, 100.0, 120.0, 1.0)() == ((100.0, false, 2)))
    // no extra sample past the wall budget
    assert(pinned(300, Some(10.0), 31.0, 1.0)(_ < 1) == ((31.0, true, 1)))
    assert(pinned(300, Some(10.0), 31.0, 40.0, 1.0)(_ < 2) == ((31.0, true, 2)))
  }

  test("probe table: known names, no repeats, expected keys and trade names are rows") {
    assert(blocks.map(_.tag) ==
      Seq("x10", "x100", "x100organic", "x1000", "x1000organic"))
    blocks.foreach { b =>
      assert(b.names.diff(b.names.distinct).isEmpty, s"${b.tag} repeats a name")
      assert(b.names.filterNot(SparkEntry.queries.contains).isEmpty,
        s"${b.tag} names a query SparkEntry.queries lacks")
      assert(b.expected.keySet.diff(b.names.toSet).isEmpty,
        s"${b.tag} pins a query it does not run")
      assert(b.ceilingSec.isDefined || b.expected.isEmpty)
    }
    assert(tradeQueries.diff(blocks.flatMap(_.names).toSet).isEmpty)
  }

  test("derivePins: keys of the first record, smaller non-negative min of the two") {
    val pins = derivePins(Map("a" -> 2.0, "b" -> 1.0, "c" -> 3.0, "d" -> -1.0),
      Map("a" -> 1.5, "b" -> 4.0, "c" -> -1.0, "e" -> 0.1))
    assert(pins == Map("a" -> 1.5, "b" -> 1.0, "c" -> 3.0))
  }

  test("loadPins: reads the committed records; a missing record is a named error") {
    val pins = loadPins(PinRecords._1, PinRecords._2)
    assert(pins.size == 420)
    assert(pins.keySet.diff(SparkEntry.queries.keySet).isEmpty)
    val missing = Paths.get("records/no_such_record.json")
    assert(!Files.exists(missing))
    val e = intercept[IllegalStateException](loadPins(PinRecords._1, missing))
    assert(e.getMessage.contains("no_such_record.json"))
  }
}
