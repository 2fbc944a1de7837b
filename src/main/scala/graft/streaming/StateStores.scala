package graft.streaming

import org.apache.spark.sql.SparkSession

/** State-store provider seam for streaming pipelines.
  *
  * Stateful streaming operators (dedup state, join buffers, window aggs)
  * live in the state store. Spark's default provider keeps every key on
  * the executor HEAP — fine for the bounded gate inputs, fatal at 100 TB
  * where dedup state alone outgrows executor memory. Spark ships a
  * RocksDB-backed provider (spilling, incremental-checkpoint) in the same
  * jar; which one a pipeline gets is a session conf read once at QUERY
  * START, so the seam is a scoped set/restore around the start call —
  * each pipeline picks its provider without touching global session
  * defaults (a started query keeps the conf it was started under).
  */
object StateStores {
  val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  /** Spark's bundled spill-to-disk provider (rocksdbjni ships with Spark;
    * no extra dependency). The 100 TB default for unbounded state. */
  val RocksDB =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` (typically a `writeStream.start()` + drain) with the given
    * provider class; `None` = whatever the session already uses. The
    * previous conf is restored afterwards — provider choice stays scoped
    * to the pipeline, not leaked into the session. */
  def withProvider[T](s: SparkSession, providerClass: Option[String])(body: => T): T =
    providerClass match {
      case None      => body
      case Some(cls) => graft.Sessions.withConf(s, ProviderKey, cls)(body)
    }
}
