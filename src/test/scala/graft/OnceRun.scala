package graft

/** Test-scope single-shot runner: execute one gate query's full plan once
  * (cold caches) and print wall time + output rows — for queries whose
  * scaled-data cost is minutes, where Bench's 6-run protocol is
  * impractical. */
object OnceRun {
  def main(args: Array[String]): Unit = {
    val (dir, names) = (args.head, args.tail.toSeq)
    val spark = Sessions.local()
    graft.functions.GraftFunctions.register(spark)
    for (q <- QueryRunner.select(names, Nil)) {
      val r = QueryRunner.cold(spark)(q.run(spark, dir))
      println(f"[once] ${q.name} at $dir: ${r.sec}%.1f s, ${r.rows} rows")
    }
    spark.stop()
  }
}
