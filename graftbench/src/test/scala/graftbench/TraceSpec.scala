package graftbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private val ms = 1000000L

  test("recorded spans nest and attribute their time") {
    val t = new Tracer(enabled = true)
    t.op(1, "round") {
      t.span("kfs.write")(Thread.sleep(5))
      t.span("iceberg.read")(t.span("exec.run")(Thread.sleep(5)))
    }
    assert(Tracer.nestingFaults(t.all).isEmpty)
    val pct = Tracer.unattributedPct(t.all)
    assert(pct >= 0 && pct < 100)
  }

  test("a child outside its parent is a fault") {
    val ss = Seq(Span(1, 1, -1, "round", 0, 10 * ms), Span(1, 2, 1, "etl.drain", 5 * ms, 12 * ms))
    assert(Tracer.nestingFaults(ss).size == 1)
  }

  test("overlapping siblings are a fault") {
    val ss = Seq(Span(1, 1, -1, "round", 0, 10 * ms),
      Span(1, 2, 1, "kfs.write", 0, 6 * ms), Span(1, 3, 1, "etl.drain", 5 * ms, 9 * ms))
    assert(Tracer.nestingFaults(ss).size == 1)
  }

  test("a child of another operation is a fault") {
    val ss = Seq(Span(1, 1, -1, "round", 0, 10 * ms), Span(2, 2, 1, "kfs.write", 1 * ms, 2 * ms))
    assert(Tracer.nestingFaults(ss).size == 1)
  }

  test("unattributed share is the root time no child covers") {
    val ss = Seq(Span(1, 1, -1, "round", 0, 10 * ms), Span(1, 2, 1, "kfs.write", 0, 4 * ms),
      Span(1, 3, 1, "etl.drain", 4 * ms, 7 * ms), Span(2, 4, -1, "kfs.discovery", 0, 50 * ms))
    assert(math.abs(Tracer.unattributedPct(ss) - 30.0) < 1e-9)
  }
}
