package org.apache.spark.sql.graft

/** State-store lifecycle hook that needs `private[sql]` access, hence
  * this object lives under `org.apache.spark.sql`. */
object StateInit {

  /** Unload every loaded state-store provider on this executor (local
    * mode: the JVM) — `StateStore.unloadAll()` is `private[sql]`, hence
    * surfaced here. A terminated AvailableNow query leaves its
    * providers (RocksDB instances + background maintenance) registered
    * until the next maintenance tick; the streamed build
    * ([[graft.CdcPipeline.orderStreamStreamedCached]]) and the A/B
    * harness ([[graft.AbStream]]) unload them once the query's output
    * is persisted. Never called on a query path. */
  def unloadAllStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()
}
