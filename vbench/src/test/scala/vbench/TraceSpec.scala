package vbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def span(id: Int, parent: Int, start: Long, end: Long) =
    Span(id, parent, 0L, s"s$id", start, end)

  test("self time subtracts the union of child intervals") {
    val spans = Seq(
      span(0, -1, 0, 100),
      span(1, 0, 10, 30),  // child
      span(2, 0, 20, 50),  // overlaps child 1: union 10..50 = 40
      span(3, 0, 70, 80),  // disjoint: 10 more
      span(4, 1, 12, 18))  // grandchild: counts against span 1 only
    val self = Tracer.selfTimes(spans)
    assert(self(0) == 100 - 50)
    assert(self(1) == 20 - 6)
    assert(self(2) == 30)
    assert(self(4) == 6)
  }

  test("child intervals are clipped to the parent") {
    val self = Tracer.selfTimes(Seq(span(0, -1, 100, 200), span(1, 0, 50, 120), span(2, 0, 190, 250)))
    assert(self(0) == 100 - 20 - 10)
  }

  test("a span without children keeps its whole duration") {
    assert(Tracer.selfTimes(Seq(span(7, -1, 5, 9))) == Map(7 -> 4L))
  }

  test("recorded spans nest under the innermost open span") {
    val t = new Tracer(true)
    t.beginOp(3)
    t.span("outer") {
      t.span("inner")(())
      t.record("external", 1L, 2L)
    }
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName("inner").parent == byName("outer").id)
    assert(byName("external").parent == byName("outer").id)
    assert(byName("outer").parent == -1)
    assert(t.spans.forall(_.op == 3))
  }

  test("a disabled tracer records nothing") {
    val t = new Tracer(false)
    assert(t.span("x")(41 + 1) == 42)
    t.record("y", 0, 1)
    assert(t.spans.isEmpty)
  }

  test("checkpoints are counted by version, without pointer or checksum files") {
    val names = Seq("00000000000000000009.json", "00000000000000000010.json",
      "00000000000000000010.checkpoint.parquet", ".00000000000000000010.checkpoint.parquet.crc",
      "_last_checkpoint", "._last_checkpoint.crc",
      "00000000000000000020.checkpoint.0000000001.0000000002.parquet",
      "00000000000000000020.checkpoint.0000000002.0000000002.parquet",
      "00000000000000000030.checkpoint.json")
    assert(Main.checkpointVersions(names) == Set(10L, 20L, 30L))
    assert(Main.checkpointVersions(names.take(2)).isEmpty)
  }

  test("the tail is the 11th-largest sample, only from 21 samples") {
    assert(Stats.tail((1 to 20).map(_.toDouble)).isEmpty)
    val Some((v, pct)) = Stats.tail((1 to 101).map(_.toDouble))
    assert(v == 91.0)
    assert(pct == 90.0)
  }
}
