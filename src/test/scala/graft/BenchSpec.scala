package graft

import java.nio.file.Paths

import org.scalatest.funsuite.AnyFunSuite

/** Which files a `graft.Bench` run writes — a query-filtered run must never
  * replace the committed full-suite `BENCH_SELF.json` — and which quiet
  * reference and load guard stamp its `load_suspect`. */
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

  private val calib32 = Some("""{"host": "x", "cpus": 32, "calib_ref": 0.46}""")

  test("the calibration file is read only on a host with its stamped cpu count") {
    assert(Bench.calibRef(None, calib32, 32) == ((Some(0.46), "file")))
    assert(Bench.calibRef(None, calib32, 4) == ((None, "uncalibrated")))
    assert(Bench.calibRef(None, Some("""{"calib_ref": 0.46}"""), 32) == ((None, "uncalibrated")))
    assert(Bench.calibRef(None, None, 4) == ((None, "uncalibrated")))
    assert(Bench.calibRef(Some("1.5"), calib32, 4) == ((Some(1.5), "prop")))
  }

  test("the load guard scales with the core count; no reference, no drift verdict") {
    assert(Bench.loadGuard(32) == 4.0 && Bench.loadGuard(4) == 1.5)
    // r17's start at loadavg 8.80 on 32 cores stays suspect
    assert(!Bench.loadSuspect(None, 3.9, 32) && Bench.loadSuspect(None, 8.80, 32))
    assert(!Bench.loadSuspect(None, 0.81, 4) && Bench.loadSuspect(None, 1.6, 4))
    assert(Bench.loadSuspect(Some(0.3), 0.0, 4) && !Bench.loadSuspect(Some(0.2), 0.0, 4))
  }

  test("git_dirty: clean tree, changed tree, no git") {
    assert(Bench.gitDirty(Some("")) == Some(false))
    assert(Bench.gitDirty(Some(" M src/main/scala/graft/Bench.scala\n?? notes.txt")) == Some(true))
    assert(Bench.gitDirty(None) == None)
  }

  test("the metric line is valid JSON for a data dir holding a quote, a backslash and a tab") {
    val dir = "/data/a\"b\\c\td"
    val runs = Seq("q02_filter_project" -> Some(Seq(0.5, 0.4, 0.6, 0.4, 0.7)), "boom" -> None)
    val line = Bench.line(Seq("cpus" -> QueryRunner.json("4")), runs, dir)
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(tree.get("sf").asText == dir)
    assert(tree.get("cpus").asText == "4")
    assert(tree.get("queries").get("q02_filter_project").asDouble == 0.4)
    assert(tree.get("queries").get("boom").asDouble == -1.0)
    assert(tree.get("value").asDouble == 0.4)
  }
}
