package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  test("a focused run writes its own artifact, never the trailing reference a full run reads") {
    assert(Bench.artifactPath(focused = false).toString == "target/bench_full.json")
    assert(Bench.artifactPath(focused = true).toString ==
      "target/bench_full_focused.json")
  }
}
