package graft.runtime

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Per-stage metric registry — the reference's lock-free counters/gauges
  * (`/root/reference/gasket/src/metrics.rs:4-111`), on JVM atomics.
  *
  * For metrics that must aggregate across Spark executors (rows processed
  * inside a distributed action), pair a [[Counter]] with a named
  * `LongAccumulator` via [[Registry.sparkCounter]]; driver-side lifecycle
  * metrics use plain atomics.
  */
final class Counter {
  private val v = new AtomicLong(0)
  def inc(delta: Long = 1): Unit = v.addAndGet(delta)
  def get: Long = v.get()
}

final class Gauge {
  private val v = new AtomicLong(0)
  def set(value: Long): Unit = v.set(value)
  def get: Long = v.get()
}

final class Registry {
  private val counters = new ConcurrentHashMap[String, Counter]()
  private val gauges = new ConcurrentHashMap[String, Gauge]()
  private val accumulators = new ConcurrentHashMap[String, org.apache.spark.util.LongAccumulator]()

  def counter(name: String): Counter =
    counters.computeIfAbsent(name, _ => new Counter)
  def gauge(name: String): Gauge =
    gauges.computeIfAbsent(name, _ => new Gauge)

  /** Executor-side counter: a Spark accumulator surfaced through the same
    * registry snapshot. */
  def sparkCounter(spark: org.apache.spark.sql.SparkSession, name: String): org.apache.spark.util.LongAccumulator =
    accumulators.computeIfAbsent(name, n => spark.sparkContext.longAccumulator(n))

  /** Point-in-time snapshot — `metrics.rs:96-110` `collect_readings`.
    * Keys are namespaced by kind (`counter.x` / `gauge.x` / `accum.x`) so a
    * counter and a gauge sharing a name can never shadow each other in the
    * merged map. */
  def readings(): Map[String, Long] =
    counters.asScala.map { case (k, c) => s"counter.$k" -> c.get }.toMap ++
      gauges.asScala.map { case (k, g) => s"gauge.$k" -> g.get }.toMap ++
      accumulators.asScala.map { case (k, a) => s"accum.$k" -> a.value.longValue }.toMap
}

/** Prometheus text rendering of stage readings — the render half of
  * `gasket-prometheus/src/lib.rs:30-77` ([[PrometheusHttp]] is the
  * transport half). */
object PrometheusText {
  def render(stage: String, readings: Map[String, Long]): String =
    readings.toSeq.sortBy(_._1).map { case (name, value) =>
      s"""stage_metric{stage_name="$stage",metric_name="$name"} $value"""
    }.mkString("", "\n", "\n")
}

/** HTTP transport for the exporter — the reference serves every tethered
  * stage's readings from an endpoint (`gasket-prometheus/src/lib.rs:
  * 51-77`); this is the same loop over [[graft.runtime.Tether]]s on the
  * JDK's built-in server. `tethers` is by-name so a Daemon that spawns
  * stages after the server starts is still fully scraped. Binds
  * loopback; `port = 0` picks an ephemeral port (read it back via
  * [[PrometheusHttp.port]]). */
final class PrometheusHttp private[runtime] (
    server: com.sun.net.httpserver.HttpServer) {
  def port: Int = server.getAddress.getPort
  def stop(): Unit = server.stop(0)
}

object PrometheusHttp {
  def serve(tethers: => Seq[Tether], port: Int = 0): PrometheusHttp = {
    val srv = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", port), 0)
    srv.createContext("/metrics", (ex: com.sun.net.httpserver.HttpExchange) => {
      val body = tethers
        .map(t => PrometheusText.render(t.name, t.readMetrics()))
        .mkString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      ex.getResponseHeaders.set(
        "Content-Type", "text/plain; version=0.0.4; charset=utf-8")
      ex.sendResponseHeaders(200, body.length.toLong)
      val os = ex.getResponseBody
      try os.write(body) finally os.close()
    })
    srv.start()
    new PrometheusHttp(srv)
  }
}
