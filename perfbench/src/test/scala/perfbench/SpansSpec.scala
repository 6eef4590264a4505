package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {

  test("self time is the span minus the union of its children, clipped to it") {
    val spans = Seq(
      Span(0, "op.append", -1, 0, 0L, 100L),
      Span(1, "table.appendChanges", 0, 0, 10L, 30L),
      Span(2, "exec.noop", 0, 0, 20L, 50L),        // overlaps span 1
      Span(3, "jobs.run", 0, 0, 90L, 120L),        // runs past its parent
      Span(4, "table.read", 1, 0, 12L, 18L))       // grandchild of span 0
    val self = Spans.selfTimes(spans)
    assert(self(0) == 100L - (40L + 10L))
    assert(self(1) == 20L - 6L)
    assert(self(2) == 30L)
    assert(self(3) == 30L)
    assert(self(4) == 6L)
  }

  test("the recorder nests spans under the running op") {
    val rec = new Recorder(traced = true)
    rec.op("append", OpClass.Write) {
      rec.span("table.appendChanges")(rec.span("exec.noop")(()))
      5L
    }
    val byName = rec.spans.map(s => s.name -> s).toMap
    assert(byName("op.append").parent == -1)
    assert(byName("table.appendChanges").parent == byName("op.append").id)
    assert(byName("exec.noop").parent == byName("table.appendChanges").id)
    assert(rec.spans.forall(_.op == 0))
    assert(rec.ops.head.rows == 5L && rec.ops.head.ok)
  }

  test("the untraced recorder times ops but records no spans") {
    val rec = new Recorder(traced = false)
    rec.op("read", OpClass.Read)(rec.span("table.read")(1L))
    assert(rec.spans.isEmpty && rec.ops.length == 1)
  }
}
