package graft

import org.apache.spark.sql.SparkSession

/** One place for engine session defaults so Verify, Bench, and tests agree.
  * Every session carries [[graft.functions.GraftExtensions]]: the native
  * functions and the packed-key sort rule. */
object Sessions {

  /** Master override for multi-JVM validation (round-14 verdict item 4):
    * `SPARK_GRAFT_MASTER=local-cluster[2,16,8192]` runs the SAME entry
    * points against a 2-worker standalone mini-cluster — executors are
    * SEPARATE JVMs, so broadcast serialization (the `bcast` dictionary,
    * Bloom-filter udfs, the `CentroidTable` per-task decode), native
    * expression registration on executors, and state-store paths all
    * cross a real process boundary instead of being trivially shared by
    * local[32]. Engine classes reach the executor JVMs via
    * extraClassPath (local-cluster workers launch from SPARK_HOME and
    * know nothing of the sbt classpath). */
  def builder(cpus: String): SparkSession.Builder = {
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val b = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // AQE partition coalescing: keep the default parallelismFirst=true.
      // Round 5 ran with `false` (64 MB advisory governs) to stop tiny
      // iterative shuffles paying 32 task overheads — but a 64×-scale
      // stage profile (round 6) showed it coalescing q18's 178 MB reduce
      // to THREE tasks (2.5 s on 3 of 32 cores: the whole q18 "gap" vs
      // DuckDB was self-inflicted serialization, not exchange cost).
      // The default computes target = min(advisory 64 MB,
      // max(stageBytes/parallelism, minPartitionSize 1 MB)), which does
      // the right thing in BOTH regimes: kilobyte shuffles still coalesce
      // to ~one task (1 MB floor), medium shuffles keep full parallelism,
      // and at 100 TB the 64 MB advisory cap governs exactly as before.
      // (A 4 MB floor was also tried for the iterative few-MB shuffles of
      // d06/q40 — measured as noise at sf0.1 and strictly worse than the
      // default at 64×, so the stock dials stand.)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS); see graft.ops.Q.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft-warehouse")
      .config("spark.ui.enabled", "false")
    if (master.startsWith("local-cluster")) {
      val classes = Seq("target/scala-2.13/classes", "target/scala-2.13/test-classes")
        .map(p => new java.io.File(p).getAbsolutePath)
        .filter(p => new java.io.File(p).isDirectory)
        .mkString(java.io.File.pathSeparator)
      b.config("spark.executor.extraClassPath", classes)
        // executor JVMs are launched by the worker from SPARK_HOME and
        // need the same JDK-17 module opens the driver gets from sbt
        .config("spark.executor.extraJavaOptions",
          org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions())
    } else b
  }

  /** Run `body` with session conf `key` set to `value`, then restore the
    * previous value, or unset the key when it was unset before. */
  def withConf[T](s: SparkSession, key: String, value: String)(body: => T): T = {
    val prev = s.conf.getOption(key)
    s.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
  }

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
