package graft

/** Plan-inspection utility. For each named query it writes
  * `explain("formatted")` twice: the plan as committed before execution
  * (AQE initial) to `<outDir>/<query>_<tag>.txt`, then — after running
  * the query to completion with `toRdd.count`, as Bench does — the plan
  * as actually executed (AQE final, after runtime re-planning) to
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
    val names =
      if (rest.isEmpty) SparkEntry.headline.map(_.name) else rest
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    def write(file: String, txt: String): Unit = {
      java.nio.file.Files.write(java.nio.file.Paths.get(outDir, file),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[plandump] wrote $outDir/$file")
    }
    names.foreach { name =>
      spark.sparkContext.setJobDescription(s"plandump: $name")
      val df = SparkEntry.queries(name)(spark, dir)
      def explain(): String = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      write(s"${name}_$tag.txt",
        try explain()
        catch { case e: Throwable => s"EXPLAIN FAILED: ${e.getMessage}" })
      write(s"${name}_${tag}_final.txt",
        try { df.queryExecution.toRdd.count(); explain() }
        catch { case e: Throwable => s"EXECUTION FAILED: ${e.getMessage}" })
      graft.ops.Q.releaseAllPersisted(spark)
    }
    spark.stop()
  }
}
