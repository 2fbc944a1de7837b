package graft

import java.nio.file.Paths

import org.scalatest.funsuite.AnyFunSuite

/** Which files a `graft.Bench` run writes: a query-filtered run must never
  * replace the committed full-suite `BENCH_SELF.json`. */
class BenchSpec extends AnyFunSuite {
  private val root = "/repo"

  test("a filtered run writes only the /tmp side file") {
    assert(Bench.outputFiles(Seq("q21_hourly_events"), Map.empty, root) ==
      Seq(Paths.get("/tmp/bench_out.json")))
  }

  test("a full headline run also writes BENCH_SELF.json under the repo root") {
    assert(Bench.outputFiles(Nil, Map.empty, root) ==
      Seq(Paths.get("/tmp/bench_out.json"), Paths.get(root, "BENCH_SELF.json")))
  }

  test("SPARK_GRAFT_BENCH_OUT moves the side file, never the repo copy") {
    val env = Map("SPARK_GRAFT_BENCH_OUT" -> "/tmp/x.json")
    assert(Bench.outputFiles(Seq("q08_running_totals"), env, root) ==
      Seq(Paths.get("/tmp/x.json")))
  }
}
