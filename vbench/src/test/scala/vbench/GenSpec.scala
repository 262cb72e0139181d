package vbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val shape = Shape(currencies = 5, exrTypes = 2, periods = 24, files = 3)

  /** The first `n` submissions of a seed, each applied to its model. */
  private def draws(seed: Long, n: Int): Seq[Submission] = {
    val m = new Model(shape)
    m.apply(Replace(0, shape.periods))
    val g = new SubmissionGen(shape, seed, IngestCow.cycle)
    (0 until n).map { _ => val s = g.draw(g.nextKind(), m); m.apply(s); s }
  }

  test("the generator is deterministic for a seed") {
    assert(draws(7, 60) == draws(7, 60))
    assert(draws(7, 60) != draws(8, 60))
  }

  test("kinds repeat the cycle whatever the seed") {
    def kinds(seed: Long) = {
      val g = new SubmissionGen(shape, seed, IngestCow.cycle)
      Seq.fill(IngestCow.cycle.size * 2)(g.nextKind())
    }
    assert(kinds(3) == IngestCow.cycle ++ IngestCow.cycle)
    assert(kinds(4) == kinds(3))
    assert(IngestCow.cycle.count(_ == "merge") == 12 && IngestCow.cycle.count(_ == "replace") == 2)
  }

  test("values are exact multiples of 1/64 below 2^14") {
    for (sid <- 0 until 50; pid <- 0 until 400 by 7; rev <- 0 until 5) {
      val v = Gen.value(sid, pid, rev)
      assert(v * 64 == Gen.valueUnits(sid, pid, rev).toDouble)
      assert(v > 0 && v < 16384)
    }
  }

  test("the model tracks live rows, revisions and time travel") {
    val m = new Model(shape)
    m.apply(Replace(0, 24))
    assert(m.liveRows == 240 && m.version == 0)
    m.apply(Merge(24, Seq((1, 3))))
    assert(m.liveRows == 250)
    assert(m.get(1, 3).contains(Cell(1, "A")))
    m.apply(Delete(1, 0, 6))
    assert(m.liveRows == 244 && m.get(1, 3).isEmpty)
    m.apply(Update(2, 0, 2, "E"))
    assert(m.get(2, 1).contains(Cell(0, "E")))
    // as of earlier versions
    assert(m.at(1, 3, 0).contains(Cell(0, "A")))
    assert(m.at(1, 3, 1).contains(Cell(1, "A")))
    assert(m.at(1, 3, 2).isEmpty)
    assert(m.at(2, 24, 0).isEmpty && m.at(2, 24, 1).isDefined)
    assert((0L to 3L).map(m.liveRows) == Seq(240L, 250L, 244L, 244L))
    // a replacement drops everything outside its window
    m.apply(Replace(1, 25))
    assert(m.liveRows == 240 && m.get(0, 0).isEmpty && m.loPid == 1 && m.hiPid == 25)
    assert(m.byCurrency.values.map(_._1).sum == 240)
  }
}
