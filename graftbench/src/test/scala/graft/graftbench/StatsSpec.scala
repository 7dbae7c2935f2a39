package graft.graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("op_tail_s picks the highest percentile with at least 10 samples beyond it") {
    assert(Stats.tailPercentile(5) === 0.5) // too few samples: the median
    assert(Stats.tailPercentile(20) === 0.5)
    assert(Stats.tailPercentile(26) === 1 - 10.0 / 26)
    assert(Stats.tailPercentile(40) === 0.75)
    assert(Stats.tailPercentile(100) === 0.9)
    assert(Stats.tailPercentile(1000) === 0.99)
    for (n <- Seq(20, 26, 37, 40, 100, 333, 1000)) {
      val xs = (1 to n).map(_.toDouble)
      val (_, v) = Stats.tail(xs)
      assert(xs.count(_ > v) === 10, s"n=$n")
    }
  }

  test("tail value is the chosen percentile of the samples") {
    val xs = (1 to 100).map(_.toDouble)
    val (p, v) = Stats.tail(xs)
    assert(p === 0.9)
    assert(math.abs(v - 90.1) < 1e-9)
    assert(xs.count(_ > v) === 10)
  }

  test("quantile interpolates linearly and median handles even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) === 2.5)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.25) === 2.5)
  }

  test("a thrown exception or a failed check counts as a failed op") {
    val rec = new Recorder(None)
    assert(rec.run("ok")(1)(_ => None) === Some(1))
    assert(rec.run("throws")(throw new IllegalStateException("boom"))(_ => None) === None)
    assert(rec.run("bad-output")(2)(v => if (v != 3) Some("wrong result") else None) === None)
    assert(rec.run("check-throws")(4)(_ => throw new RuntimeException("check crashed")) === None)
    assert(rec.attempted === 4)
    assert(rec.failed === 3)
    assert(rec.records.map(_.ok) === Seq(true, false, false, false))
    assert(rec.records(1).error.get.contains("boom"))
    assert(rec.records(2).error.get === "wrong result")
  }
}
