package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repoRoot = sys.props.get("graft.repo.root")
      .orElse(sys.env.get("GRAFT_REPO_ROOT"))
      .getOrElse(sys.props.getOrElse("user.dir", "."))
    val spark = Sessions.local()
    // Timing protocol (evolved over rounds 3-5 chasing dispersion):
    //  - Per-query ADJACENT warmup: each query warms immediately before
    //    its own timed runs. The round-4 global warm-then-time-all loop
    //    left 15 other queries' warm passes (heap churn + C2 compilation
    //    of THEIR generated code) between the first query's warmup and
    //    its timed runs — measured as q01 doubling in the driver bench
    //    (1.26 s) while a same-day adjacent-warm local run showed 0.23 s.
    //  - FIVE timed runs, headline = min (the least-perturbed observation
    //    of the same deterministic work), median reported alongside.
    //  - spread = (median - min)/min: how far the TYPICAL run sits above
    //    the best one. (max-min)/min was reported through round 4, but on
    //    sub-second queries a single scheduler hiccup in any run pushed it
    //    past 1.0 with no engine change — the median-based figure measures
    //    systematic dispersion and stays comparable across rounds; the
    //    worst case is still visible as runs are logged to stderr.
    // Every timed run starts COLD on the staged caches (releaseAllPersisted)
    // so timings are end-to-end engine work, not cache re-reads; a failed
    // query reports -1 (loud), never a bogus timing.
    // optional args = query-name filter (scale experiments time a subset;
    // the driver's no-arg invocation times every headline query)
    val picked =
      if (args.isEmpty) SparkEntry.headline
      else SparkEntry.registry.filter(q => args.contains(q.name))
    // Machine-state calibration (round-10 verdict item 3): driver-bench
    // medians drifted +10% across rounds on IDENTICAL code paths while
    // the controlled idle-machine protocol improved — so each bench run
    // self-records (a) the 1-min loadavg at start and (b) the min-of-3
    // time of a FIXED data-independent calibration job (a codegen'd
    // range→groupBy→count: same scan/hash-agg/shuffle machinery the
    // real queries exercise, zero dependence on the code under test).
    // A round whose aggregate moves >10% with a matching calibration
    // move is machine-attributed in the artifact itself; a move with a
    // flat calibration is a real regression.
    val loadavg1m = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    def calibOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(200000000L).selectExpr("id % 997 AS k")
        .groupBy("k").count().queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    calibOnce() // warm the calibration plan's generated code
    val calibSec = Seq.fill(3)(calibOnce()).min
    // Execute the query's OWN physical plan to completion (toRdd.count
    // consumes every output row in place, nothing ships to the driver).
    // Timing `df.count()` instead is a measurement bug, not a protocol
    // choice: Catalyst prunes columns a count doesn't need, so row-wise
    // projection queries lose their entire payload (t08's quality battery
    // read 0.43 s at 64× while the real work is 10.2 s; q08's window was
    // optimized out completely) — while the DuckDB side of every
    // comparison fetches full rows. Rounds ≤ 5 bench numbers for
    // projection-shaped queries are under-measured by this trap
    // (aggregate-shaped headliners were unaffected: grouping forces their
    // upstream pipelines).
    def exec(q: graft.ops.QueryDef): Unit =
      q.run(spark, sfDir).queryExecution.toRdd.count()
    def once(q: graft.ops.QueryDef): Double = {
      // sweep staged caches AND checkpoint blocks (d06 rounds) with
      // blocking unpersist, then settle the heap — an async drain racing
      // the next cold run cost q40 a phantom +62% in round 3
      graft.ops.Q.releaseAllPersisted(spark)
      System.gc()
      val t0 = System.nanoTime()
      val t = try { exec(q); (System.nanoTime() - t0) / 1e9 }
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] ${q.name} FAILED: ${e.getMessage}")
          -1.0
      }
      System.err.println(String.format(java.util.Locale.ROOT, "[bench] %s run: %.3f s", q.name, Double.box(t)))
      t
    }
    val nRuns = 5
    val runs = picked.map { q =>
      // adjacent warmup: JIT-compile THIS query's generated code and take
      // the C2 storm now, right before its timed runs
      graft.ops.Q.releaseAllPersisted(spark)
      try exec(q)
      catch { case _: Throwable => () } // failures surface in the timed runs
      q.name -> Seq.fill(nRuns)(once(q))
    }
    val results = runs.map { case (name, rs) =>
      name -> (if (rs.exists(_ < 0)) -1.0 else rs.min)
    }.toMap
    val medians = runs.collect { case (name, rs) if rs.forall(_ >= 0) =>
      name -> rs.sorted.apply(nRuns / 2)
    }.toMap
    val spread = runs.collect { case (name, rs) if rs.forall(_ >= 0) && rs.min > 0 =>
      name -> ((rs.sorted.apply(nRuns / 2) - rs.min) / rs.min)
    }.toMap
    // Locale.ROOT: the f-interpolator honors the default locale, and a
    // comma-decimal locale would make the emitted line invalid JSON
    def fmt(m: Map[String, Double]): String =
      m.map { case (k, v) =>
        "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
      }.mkString("{", ",", "}")
    // failures (-1 sentinel) are reported, never folded into the total
    val ok = results.filter(_._2 >= 0)
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = if (ok.nonEmpty) ok.values.sum else 0.0
    // Calib-drift guard (round-14 verdict item 2): the committed round-14
    // "final" artifact self-recorded loadavg 6.78 with the calibration job
    // +69% over the same round's quiet-machine baseline — a loaded run
    // silently became the round's headline. The bench now defends itself:
    // any run whose fixed calibration job drifts >25% off the quiet
    // reference of THIS host shape, or that starts on a busy machine, is
    // STAMPED "load_suspect":true in the artifact itself, so a noisy run
    // can never masquerade as a clean baseline (see calibRef, loadSuspect).
    val nproc = Runtime.getRuntime.availableProcessors
    val calibFile = try {
      Some(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(repoRoot, "tools", "bench_calib.json")),
        java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: java.io.IOException => None }
    val (calibQuietRef, calibRefSource) =
      calibRef(sys.props.get("graft.bench.calibRef"), calibFile, nproc)
    val calibDrift = calibQuietRef.map(calibSec / _ - 1.0)
    val suspect = loadSuspect(calibDrift, loadavg1m, nproc)
    if (suspect) System.err.println(String.format(java.util.Locale.ROOT,
      "[bench] WARNING: calibration %.3f s against the quiet reference %s " +
        "(%s) at loadavg %.2f on %d cores — artifact stamped load_suspect",
      Double.box(calibSec), calibQuietRef.fold("none")(r => f"$r%.2f s"), calibRefSource,
      Double.box(loadavg1m), Int.box(nproc)))
    def num(v: Option[Double], digits: Int): String =
      v.fold("null")(x => String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(x)))
    val calib = String.format(java.util.Locale.ROOT,
      """"loadavg1m":%.2f,"calib_sec":%.4f,"calib_ref":%s,"calib_ref_source":"%s","calib_drift":%s,"load_suspect":%b""",
      Double.box(loadavg1m), Double.box(calibSec), num(calibQuietRef, 4),
      calibRefSource, num(calibDrift, 3), Boolean.box(suspect))
    val host = String.format(java.util.Locale.ROOT,
      """"nproc":%d,"cpus":"%s","heap_mb":%d,"git_head":"%s","full_run":%b""",
      Int.box(nproc),
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      Long.box(Runtime.getRuntime.maxMemory >> 20), gitHead(repoRoot),
      Boolean.box(args.isEmpty))
    val line = s"""{"metric":"total","value":$total,"unit":"sec","runs":$nRuns,$calib,$host,"queries":${fmt(results)},"medians":${fmt(medians)},"spread":${fmt(spread)},"failed":$failed,"sf":"$sfDir"}"""
    println(line)
    // The full metric object also goes to files (a truncated stdout tail
    // is not machine-comparable): see outputFiles. Absolute paths are
    // always logged.
    for (p <- outputFiles(args.toSeq, sys.env, repoRoot)) {
      val abs = p.toAbsolutePath
      try {
        java.nio.file.Files.write(abs,
          (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        System.err.println(s"[bench] wrote $abs")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $abs: ${e.getMessage}") }
    }
    spark.stop()
  }

  /** The 1-min load average above which a run is stamped `load_suspect`:
    * one eighth of the cores, which is the 4.0 the 32-core host has always
    * used (the round-15 pin at loadavg 8.29 and r17's 8.80 stay suspect).
    * Never below 1.5: an sbt launch on an idle 4-core box leaves its own
    * 0.8 behind when Bench starts, and 4 / 8 = 0.5 would stamp every run
    * there. */
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

  /** The commit the bench ran, or "unknown" outside a git checkout. */
  private def gitHead(repoRoot: String): String =
    scala.util.Try(scala.sys.process.Process(Seq("git", "rev-parse", "HEAD"),
      new java.io.File(repoRoot)).!!(scala.sys.process.ProcessLogger(_ => ())).trim)
      .getOrElse("unknown")
}
