package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}

/** Plan-inspection utility. For each named query it writes
  * `explain("formatted")` twice: the plan as committed before execution
  * (AQE initial) to `<outDir>/<query>_<tag>.txt`, then — after a cold run
  * of the query on [[QueryRunner]], as Bench times it — the plan as
  * actually executed (AQE final, after runtime re-planning) to
  * `<outDir>/<query>_<tag>_final.txt`. The committed before/after dumps
  * under plans/ are how plan claims are checked without running Spark;
  * the review loop is PlanDump → read the exchanges/joins/pushdown →
  * fix → dump again.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> [queryName...]
  * (no query names = every headline query)
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(dir, outDir, tag, rest @ _*) = args: @unchecked
    val spark = Sessions.local()
    dump(spark, dir, outDir, tag, QueryRunner.select(rest, SparkEntry.headline))
    spark.stop()
  }

  /** Dump `queries`' plans; a query that fails to build or run is in the
    * returned errors, and the others still dump. */
  private[graft] def dump(spark: SparkSession, dir: String, outDir: String, tag: String,
      queries: Seq[graft.ops.QueryDef]): scala.collection.Map[String, String] = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    def write(file: String, qe: QueryExecution): Unit = {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outDir, file),
        qe.explainString(FormattedMode))
      System.err.println(s"[plandump] wrote $outDir/$file")
    }
    QueryRunner.run(spark, "plandump", queries) { q =>
      val run = QueryRunner.cold(spark) {
        val df = q.run(spark, dir)
        write(s"${q.name}_$tag.txt", df.queryExecution)
        df
      }
      write(s"${q.name}_${tag}_final.txt", run.qe)
      run.rows
    }._1
  }
}
