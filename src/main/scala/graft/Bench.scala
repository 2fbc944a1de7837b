package graft
import java.util.Locale.ROOT
import scala.collection.mutable
import graft.QueryRunner.{json, obj}
/** The headline benchmark: every headline query (or the named ones) on
  * [[QueryRunner]], each warmed once right before its own five timed cold
  * runs; the figure is the min of five, with the median and the spread
  * (median − min) / min beside it. A failed query reads -1 and is never
  * folded into the total. One JSON line goes to stdout and to
  * [[outputFiles]]. Why the protocol is what it is: SCALE.md "One query
  * runner".
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> runMain graft.Bench [queryName...] */
object Bench {
  private val nRuns = 5

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repoRoot = sys.props.get("graft.repo.root")
      .orElse(sys.env.get("GRAFT_REPO_ROOT"))
      .getOrElse(sys.props.getOrElse("user.dir", "."))
    val spark = Sessions.local()
    val picked = QueryRunner.select(args.toSeq, SparkEntry.headline)
    val stamp = calibrate(spark, repoRoot, full = args.isEmpty)
    val out = line(stamp, time(spark, sfDir, picked), sfDir)
    println(out)
    // the full line also goes to files (a truncated stdout tail is not
    // machine-comparable); absolute paths are always logged
    for (p <- outputFiles(args.toSeq, sys.env, repoRoot)) {
      val abs = p.toAbsolutePath
      try {
        java.nio.file.Files.write(abs,
          (out + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        System.err.println(s"[bench] wrote $abs")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $abs: ${e.getMessage}") }
    }
    spark.stop()
  }

  /** Each query's timed runs in seconds, None for a query that failed.
    * The warm-up sits right before the query's own runs, so its JIT and
    * C2 compilation land there and not between another query's warm-up
    * and runs. */
  private[graft] def time(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      queries: Seq[graft.ops.QueryDef]): Seq[(String, Option[Seq[Double]])] = {
    val runs = mutable.Map.empty[String, Seq[Double]]
    QueryRunner.run(spark, "bench", queries) { q =>
      QueryRunner.cold(spark)(q.run(spark, sfDir))
      val timed = Seq.fill(nRuns) {
        val r = QueryRunner.cold(spark)(q.run(spark, sfDir))
        System.err.println(String.format(ROOT, "[bench] %s run: %.3f s", q.name, Double.box(r.sec)))
        (r.sec, r.rows)
      }
      runs(q.name) = timed.map(_._1)
      timed.head._2
    }
    queries.map(q => q.name -> runs.get(q.name))
  }

  /** The metric line: the headline fields, `stamp` (calibration and host
    * fields, in order), then each query's min, median and spread, the
    * failed queries and the data dir. */
  private[graft] def line(stamp: Seq[(String, String)],
      runs: Seq[(String, Option[Seq[Double]])], sfDir: String): String = {
    val results = runs.map { case (name, rs) => name -> rs.fold(-1.0)(_.min) }.toMap
    val medians = runs.collect { case (name, Some(rs)) => name -> rs.sorted.apply(nRuns / 2) }.toMap
    val spread = runs.collect { case (name, Some(rs)) if rs.min > 0 =>
      name -> ((rs.sorted.apply(nRuns / 2) - rs.min) / rs.min)
    }.toMap
    // Locale.ROOT: a comma-decimal default locale would break the JSON
    def fmt(m: Map[String, Double]): String =
      obj(m.map { case (k, v) => k -> String.format(ROOT, "%.4f", Double.box(v)) })
    val ok = results.filter(_._2 >= 0)
    val total = if (ok.nonEmpty) ok.values.sum else 0.0
    obj(Seq("metric" -> json("total"), "value" -> total.toString, "unit" -> json("sec"),
      "runs" -> nRuns.toString) ++ stamp ++ Seq(
      "queries" -> fmt(results), "medians" -> fmt(medians), "spread" -> fmt(spread),
      "failed" -> results.collect { case (k, v) if v < 0 => json(k) }.mkString("[", ",", "]"),
      "sf" -> json(sfDir)))
  }

  /** The calibration and host fields. The 1-min load average at start and
    * the min-of-3 time, after one warm-up, of a fixed, data-independent
    * job (a codegen'd range → groupBy → count on the same scan,
    * hash-aggregate and shuffle machinery as the queries) let a
    * machine-state move be told from an engine regression in the artifact
    * itself; a run that drifts off this host's quiet reference or starts
    * busy is stamped `load_suspect`. */
  private def calibrate(spark: org.apache.spark.sql.SparkSession, repoRoot: String,
      full: Boolean): Seq[(String, String)] = {
    val loadavg1m = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val calibSec = Seq.fill(4)(QueryRunner.cold(spark)(
      spark.range(200000000L).selectExpr("id % 997 AS k").groupBy("k").count()).sec).tail.min
    val nproc = Runtime.getRuntime.availableProcessors
    val calibFile = scala.util.Try(java.nio.file.Files.readString(
      java.nio.file.Paths.get(repoRoot, "tools", "bench_calib.json"))).toOption
    val (calibQuietRef, calibRefSource) =
      calibRef(sys.props.get("graft.bench.calibRef"), calibFile, nproc)
    val calibDrift = calibQuietRef.map(calibSec / _ - 1.0)
    val suspect = loadSuspect(calibDrift, loadavg1m, nproc)
    def num(v: Option[Double], digits: Int): String =
      v.fold("null")(x => String.format(ROOT, s"%.${digits}f", Double.box(x)))
    if (suspect) System.err.println(String.format(ROOT,
      "[bench] WARNING: calibration %.3f s against the quiet reference %s " +
        "(%s) at loadavg %.2f on %d cores — artifact stamped load_suspect",
      Double.box(calibSec), num(calibQuietRef, 2), calibRefSource,
      Double.box(loadavg1m), Int.box(nproc)))
    Seq("loadavg1m" -> num(Some(loadavg1m), 2), "calib_sec" -> num(Some(calibSec), 4),
      "calib_ref" -> num(calibQuietRef, 4), "calib_ref_source" -> json(calibRefSource),
      "calib_drift" -> num(calibDrift, 3), "load_suspect" -> suspect.toString,
      "nproc" -> nproc.toString,
      // the core count the session was built with (Sessions.builder sets
      // the shuffle partitions from it)
      "cpus" -> json(spark.conf.get("spark.sql.shuffle.partitions")),
      "heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "git_head" -> json(git(repoRoot, "rev-parse", "HEAD").getOrElse("unknown")),
      "git_dirty" -> gitDirty(git(repoRoot, "status", "--porcelain")).fold("null")(_.toString),
      "full_run" -> full.toString)
  }

  /** The 1-min load average above which a run is stamped `load_suspect`:
    * one eighth of the cores, the 4.0 the 32-core host has always used.
    * Never below 1.5: an sbt launch on an idle 4-core box leaves its own
    * 0.8 behind when Bench starts, and 4 / 8 = 0.5 would stamp every run
    * there. SCALE.md "One query runner" has the runs that set it. */
  private[graft] def loadGuard(cpus: Int): Double = math.max(1.5, cpus / 8.0)

  /** The quiet calibration reference and where it came from:
    * `-Dgraft.bench.calibRef` ("prop"), else `calibFile`'s `calib_ref` when
    * the `cpus` stamped beside it is this host's count ("file"), else none
    * ("uncalibrated"): a reference timed on another host shape says
    * nothing about this one. `calibFile` is the text of
    * `tools/bench_calib.json`, when it exists. */
  private[graft] def calibRef(prop: Option[String], calibFile: Option[String],
      cpus: Int): (Option[Double], String) =
    prop.map(v => (Option(v.toDouble), "prop")).getOrElse {
      def field(name: String): Option[Double] = calibFile.flatMap { txt =>
        val m = java.util.regex.Pattern
          .compile("\"" + name + "\"\\s*:\\s*([0-9.]+)").matcher(txt)
        if (m.find()) Some(m.group(1).toDouble) else None
      }
      val ref = for { c <- field("cpus") if c == cpus; r <- field("calib_ref") } yield r
      ref.fold((Option.empty[Double], "uncalibrated"))(r => (Some(r), "file"))
    }

  /** Whether a run is stamped `load_suspect`: its calibration job ran more
    * than 25 % over the quiet reference (when there is one), or the load
    * average at start exceeded [[loadGuard]]. */
  private[graft] def loadSuspect(calibDrift: Option[Double], loadavg1m: Double,
      cpus: Int): Boolean =
    calibDrift.exists(_ > 0.25) || loadavg1m > loadGuard(cpus)

  /** Where a bench run writes its metric line. Every run writes the side
    * file (`SPARK_GRAFT_BENCH_OUT`, default `/tmp/bench_out.json`). Only a
    * full headline run (no query filter) also writes the committed
    * `BENCH_SELF.json` under `repoRoot`, so a subset run can never replace
    * the baseline. The repo root is explicit (`graft.repo.root` property,
    * `GRAFT_REPO_ROOT` env, else the working directory): a cwd-relative
    * path lands elsewhere when the bench is launched outside the repo. */
  def outputFiles(args: Seq[String], env: Map[String, String],
      repoRoot: String): Seq[java.nio.file.Path] = {
    val side = java.nio.file.Paths.get(
      env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/bench_out.json"))
    if (args.isEmpty) Seq(side, java.nio.file.Paths.get(repoRoot, "BENCH_SELF.json"))
    else Seq(side)
  }

  /** The trimmed output of `git <args>` run in `repoRoot`, None outside a
    * git checkout (or without git). */
  private def git(repoRoot: String, args: String*): Option[String] =
    scala.util.Try(scala.sys.process.Process("git" +: args,
      new java.io.File(repoRoot)).!!(scala.sys.process.ProcessLogger(_ => ())).trim).toOption

  /** Whether the measured tree differs from `git_head`: `git status
    * --porcelain` lists a changed or untracked path. None (no git) stamps
    * null, so a run never claims a commit it cannot name. */
  private[graft] def gitDirty(porcelain: Option[String]): Option[Boolean] =
    porcelain.map(_.trim.nonEmpty)
}
