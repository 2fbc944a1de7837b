package graft

import org.apache.spark.sql.SparkSession

/** One place for engine session defaults so Verify, Bench, and tests agree.
  * Every session carries [[graft.functions.GraftExtensions]]: the native
  * functions and the packed-key sort rule. */
object Sessions {

  /** `SPARK_GRAFT_MASTER` overrides the master for multi-JVM validation:
    * `SPARK_GRAFT_MASTER=local-cluster[2,16,8192]` runs the SAME entry
    * points against a 2-worker standalone mini-cluster, whose executors
    * are SEPARATE JVMs, so broadcast serialization, native expression
    * registration on executors and state-store paths cross a real process
    * boundary (SCALE.md "One query runner" has why). Engine classes reach
    * the executor JVMs via extraClassPath (local-cluster workers launch
    * from SPARK_HOME and know nothing of the sbt classpath). */
  def builder(cpus: String): SparkSession.Builder = {
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val b = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // AQE partition coalescing keeps the default parallelismFirst=true:
      // its target min(advisory 64 MB, max(stageBytes / parallelism,
      // 1 MB)) coalesces kilobyte shuffles to about one task and keeps
      // medium shuffles at full parallelism. SCALE.md "One query runner"
      // has the measurements that rejected the other settings.
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
