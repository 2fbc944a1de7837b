package graft
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import java.nio.file.{Files, Paths}
import graft.QueryRunner.{json, obj}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * The batch runs on [[QueryRunner]]: one supervised stage whose work
  * units are the gate queries. Each query's row count comes back from
  * `Dataset.observe` (executor-side, zero extra pass) into the stage's
  * row gauge, and the stage is scrapeable live over
  * [[graft.runtime.PrometheusHttp]] (RuntimeSpec scrapes it mid-run).
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [queryName...]
  * (no query names = every query; `__none__` names none, so only the
  * oracle texts and the two run records are written) */
object Verify {

  /** Dump the queries `names` select (all when empty) under supervision
    * and write the run's JSON records. Returns (errors, final stage
    * readings); `onServe` receives the live metrics endpoint's port. */
  def runBatch(spark: SparkSession, sfDir: String, outDir: String,
      names: Set[String], onServe: Int => Unit = _ => ())
      : (scala.collection.mutable.LinkedHashMap[String, String], Map[String, Long]) =
    dump(spark, sfDir, outDir, QueryRunner.select(names.toSeq, SparkEntry.registry), onServe)

  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[graft.ops.QueryDef], onServe: Int => Unit = _ => ()) = {
    new java.io.File(outDir).mkdirs()
    val result @ (errors, _) = QueryRunner.run(spark, "verify", queries, onServe) { q =>
      val rows = Observation(s"verify_${q.name}")
      q.run(spark, sfDir).observe(rows, count(lit(1)).as("rows"))
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/${q.name}")
      rows.get("rows").asInstanceOf[Long]
    }
    def write(file: String, text: String): Unit = Files.writeString(Paths.get(outDir, file), text)
    def strings(m: Iterable[(String, String)]): String =
      obj(m.map { case (k, v) => k -> json(v) }, ": ")
    write("oracle_sql.json", strings(SparkEntry.oracleSql))
    // a throwing query is loud in the artifacts, not only on stderr; the
    // exit code stays 0 so the oracle compare still covers the rest
    write("_errors.json", strings(errors))
    // _run.json: the master this dump ran under, so tools/verify_local.py
    // can tell a multi-JVM leg from a local one (SCALE.md "One query runner")
    write("_run.json",
      s"""{"master": ${json(spark.sparkContext.master)}, "sf_dir": ${json(sfDir)}, """ +
        s""""queries_attempted": ${queries.size}, "queries_failed": ${errors.size}}""")
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} FAILED: ${errors.keys.mkString(", ")}")
    result
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val spark = Sessions.local()
    runBatch(spark, sfDir, outDir, args.drop(2).toSet)
    spark.stop()
  }
}
