package graft

import scala.collection.mutable
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution

import graft.ops.QueryDef
import graft.runtime.{PrometheusHttp, StageRuntime, Worker, WorkSchedule}

/** The one query loop of the entry-point mains ([[Bench]], [[Verify]],
  * [[PlanDump]]): gasket's one supervised work loop per stage
  * (`framework.rs`, `runtime.rs`) with gate queries as its work units.
  * The mains differ only in the body they run per query. */
object QueryRunner {

  /** The registry queries named in `names`, in registry order, or
    * `default` when no name is given. Every name the registry does not
    * hold is printed on stderr, so a misspelt filter is never silent. */
  def select(names: Seq[String], default: => Seq[QueryDef]): Seq[QueryDef] = {
    val all = SparkEntry.registry
    names.filterNot(n => all.exists(_.name == n))
      .foreach(n => System.err.println(s"[graft] unknown query: $n"))
    if (names.isEmpty) default else all.filter(q => names.contains(q.name))
  }

  /** Run `body` over `queries` as one supervised stage named `stage`,
    * its registry served over [[PrometheusHttp]] while it runs (`onServe`
    * gets the port). A query whose body throws is recorded as
    * name → "class: message" and counted `queries_failed`; the batch
    * goes on. Otherwise it counts `queries_ok` and the gauge
    * `<stage>_<query>.rows` holds the row count `body` returns. Returns
    * the errors, in run order, and the stage's final readings. */
  def run(spark: SparkSession, stage: String, queries: Seq[QueryDef],
      onServe: Int => Unit = _ => ())(body: QueryDef => Long)
      : (mutable.LinkedHashMap[String, String], Map[String, Long]) = {
    val errors = mutable.LinkedHashMap.empty[String, String]
    val pending = queries.iterator // read by the stage thread only
    val tether = StageRuntime.spawnInstrumented(stage, registry => new Worker[QueryDef] {
      def schedule() = if (pending.hasNext) WorkSchedule.Unit(pending.next()) else WorkSchedule.Done
      def execute(q: QueryDef): Unit = {
        spark.sparkContext.setJobDescription(s"$stage: ${q.name}")
        val t0 = System.nanoTime()
        try {
          registry.gauge(s"${stage}_${q.name}.rows").set(body(q))
          registry.counter("queries_ok").inc()
          System.err.println(f"[$stage] ${q.name} ok in ${(System.nanoTime() - t0) / 1e9}%.2f s")
        } catch { case e: Throwable =>
          errors(q.name) = s"${e.getClass.getName}: ${e.getMessage}"
          registry.counter("queries_failed").inc()
          System.err.println(s"[$stage] ${q.name} failed: ${e.getMessage}")
        }
      }
    })
    val http = PrometheusHttp.serve(Seq(tether))
    System.err.println(s"[$stage] metrics at 127.0.0.1:${http.port}/metrics")
    onServe(http.port)
    // the stage thread ends (Ended) however the batch ends: execute()
    // swallows query failures, so only a fatal runtime error ends it early
    try tether.join(Duration.Inf) finally http.stop()
    (errors, tether.readMetrics())
  }

  /** One cold run: its plan, output rows and seconds. */
  final case class Run(qe: QueryExecution, rows: Long, sec: Double)

  /** Build `df` and run its own physical plan to completion, from cold:
    * every staged frame and checkpoint block is released first (blocking)
    * and the heap settled, so the run is engine work, not cache re-reads
    * or an async drain racing it. `toRdd.count` consumes every output row
    * in place; `df.count()` would let Catalyst prune the columns a count
    * does not need, and a projection query would lose its payload.
    * `sec` times the build and the execution. */
  def cold(spark: SparkSession)(df: => DataFrame): Run = {
    graft.ops.Q.releaseAllPersisted(spark)
    System.gc()
    val t0 = System.nanoTime()
    val qe = df.queryExecution
    val rows = qe.toRdd.count()
    Run(qe, rows, (System.nanoTime() - t0) / 1e9)
  }

  /** `s` as a JSON string: quote, backslash and every control character
    * escaped (a raw tab or CR in a SQL text or a path would make the
    * reader's `json.load` fail). */
  def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A JSON object of rendered values, `sep` between each key and its
    * value. */
  def obj(fields: Iterable[(String, String)], sep: String = ":"): String =
    fields.map { case (k, v) => json(k) + sep + v }.mkString("{", ",", "}")
}
