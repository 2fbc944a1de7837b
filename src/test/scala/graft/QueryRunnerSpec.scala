package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.QueryDef

/** The one query runner under its three bodies: a query that throws is
  * reported and the batch goes on; the selector names every unknown
  * query on stderr. */
class QueryRunnerSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.spark
  private val boom = QueryDef("boom", (_, _) => throw new IllegalStateException("no such table"), None)
  private def pick(names: String*): Seq[QueryDef] =
    SparkEntry.registry.filter(q => names.contains(q.name))
  private lazy val batch = pick("q02_filter_project", "q11_set_ops") :+ boom

  /** What `body` prints on stderr. */
  private def stderrOf(body: => Unit): String = {
    val buf = new java.io.ByteArrayOutputStream
    val prev = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try body finally System.setErr(prev)
    buf.toString("UTF-8")
  }

  private def files(p: Path): Set[String] = {
    val s = Files.list(p)
    try s.toArray.map(_.asInstanceOf[Path].getFileName.toString).toSet finally s.close()
  }

  test("timed body: a throwing query reads -1 and is failed; the others still time") {
    val line = Bench.line(Nil, Bench.time(spark, dir, batch), dir)
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    val queries = tree.get("queries")
    assert(queries.get("boom").asDouble == -1.0)
    assert(tree.get("failed").size == 1 && tree.get("failed").get(0).asText == "boom")
    for (name <- Seq("q02_filter_project", "q11_set_ops")) {
      assert(queries.get(name).asDouble > 0.0, line)
      assert(tree.get("medians").has(name) && tree.get("spread").has(name), line)
    }
  }

  test("dump bodies: a throwing query lands in the errors map and the others still dump") {
    val out = graft.ops.StreamingGate.tempDir("graft-runner-dump")
    val (errors, fin) = Verify.dump(spark, dir, out.toString, batch)
    assert(errors.keySet == Set("boom") && errors("boom").contains("no such table"))
    assert(fin("counter.queries_ok") == 2L && fin("counter.queries_failed") == 1L)
    for (name <- Seq("q02_filter_project", "q11_set_ops"))
      assert(fin(s"gauge.verify_$name.rows") == spark.read.parquet(s"$out/$name").count())
    assert(files(out) == Set("q02_filter_project", "q11_set_ops",
      "oracle_sql.json", "_errors.json", "_run.json"))
    assert(Files.readString(out.resolve("_errors.json")).startsWith("{\"boom\": "))

    val plans = graft.ops.StreamingGate.tempDir("graft-runner-plans")
    assert(PlanDump.dump(spark, dir, plans.toString, "t", batch).keySet == Set("boom"))
    assert(files(plans) == Set("q02_filter_project_t.txt", "q02_filter_project_t_final.txt",
      "q11_set_ops_t.txt", "q11_set_ops_t_final.txt"))
  }

  test("one selector: unknown names go to stderr; __none__ dumps only the oracle texts") {
    var picked = Seq.empty[QueryDef]
    val err = stderrOf { picked = QueryRunner.select(Seq("q02_filter_project", "q2_typo"), Nil) }
    assert(picked.map(_.name) == Seq("q02_filter_project"))
    assert(err.contains("unknown query: q2_typo") && !err.contains("q02_filter_project"))
    assert(QueryRunner.select(Nil, SparkEntry.headline) == SparkEntry.headline)

    val out = graft.ops.StreamingGate.tempDir("graft-runner-none")
    val noneErr = stderrOf { Verify.runBatch(spark, dir, out.toString, Set("__none__")) }
    assert(noneErr.contains("unknown query: __none__"))
    assert(files(out) == Set("oracle_sql.json", "_errors.json", "_run.json"))
    assert(Files.readString(out.resolve("_errors.json")) == "{}")
    val oracle = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(out.resolve("oracle_sql.json").toFile)
    assert(oracle.size == SparkEntry.oracleSql.size)
  }
}
