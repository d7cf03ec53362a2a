package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {
  private def sample(op: String, ms: Double) = Sample(op, ms, traced = false, None, Map.empty)
  private val classOf = Map("a" -> "scan", "b" -> "scan", "c" -> "fixed")

  test("a class metric weighs each request type the same, whatever the mix") {
    val h = new Harness(None)
    val few = Seq(sample("a", 10.0), sample("b", 1000.0), sample("c", 5.0))
    val manyA = few ++ Seq.fill(50)(sample("a", 10.0))
    assert(math.abs(h.quantile(few, "scan", classOf, 0.5) - 100.0) < 1e-9)
    assert(h.quantile(manyA, "scan", classOf, 0.5) == h.quantile(few, "scan", classOf, 0.5))
    assert(h.classMean(manyA, "scan", classOf)(_.ms) == 505.0)
    assert(math.abs(h.quantile(few, "fixed", classOf, 0.5) - 5.0) < 1e-9)
    assert(h.quantile(few, "driver", classOf, 0.5) == 0.0)
  }

  test("a wrong or throwing request counts as failed and is never timed") {
    val h = new Harness(None)
    h.phase = "measure"
    assert(h.request("a")(1)(_ => Some("wrong")).isEmpty)
    assert(h.request("a")(throw new IllegalStateException("boom"))(_ => None).isEmpty)
    assert(h.request("a")(2)(_ => None).contains(2))
    assert(h.attempted("a") == 3 && h.failed("a") == 2)
    assert(h.samples.length == 1)
    h.retract("a", "wrong once the window closed")
    assert(h.attempted("a") == 3 && h.failed("a") == 3)
    assert(h.samples.isEmpty)
  }

  test("cold time keeps only the first correct request of each type") {
    val h = new Harness(None)
    h.request("a")(Thread.sleep(20))(_ => None)
    h.request("a")(Thread.sleep(200))(_ => None)
    h.request("b")(())(_ => None)
    assert(h.firstMs.keySet == Set("a", "b"))
    assert(h.firstMs("a") >= 20.0 && h.firstMs("a") < 200.0)
    assert(h.samples.isEmpty)
  }

  test("self time subtracts direct children only") {
    val spans = Seq(
      Trace.Span(0, -1, 1, "request", "r", 0L, 100L),
      Trace.Span(1, 0, 1, "engine", "build", 10L, 40L),
      Trace.Span(2, 0, 1, "spark", "run", 40L, 90L),
      Trace.Span(3, 2, 1, "sources", "get", 50L, 60L))
    assert(Trace.selfNs(spans) == Map(0 -> 20L, 1 -> 30L, 2 -> 40L, 3 -> 10L))
  }
}
