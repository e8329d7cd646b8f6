package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Mirrors the role of the reference's session creator
  * (reference: SparkSessionCreator.scala:17-42) without Delta extensions:
  * the engine runs on vanilla Spark SQL + Structured Streaming.
  *
  * Defaults are sized for local[N] testing but chosen to scale: AQE on
  * (runtime re-planning, skew-join handling), shuffle partitions matched
  * to local cores rather than the 200 default, UTC session time zone for
  * oracle parity.
  */
object SparkSessions {

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    builder(s"local[$cores]", cores).getOrCreate()

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .withExtensions(graft.expressions.GraftExtensions.apply)
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // RocksDB state store, as the reference runs it (reference.conf:14):
      // the streaming transaction buffer (flatMapGroupsWithState in
      // CdcStreaming.startIngest and the streamed order_stream build)
      // keeps its per-transaction state there. Batch buffering never
      // opens a store, so this only affects streaming queries.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // The 4.1 checkpoint checksum writer deadlocks under RocksDB
      // snapshot upload with several state partitions closing zip
      // streams at once: each close() awaits a checksum future that
      // can't get a pool thread, and the state commit wedges. Checksums
      // add nothing to local checkpoints, so the feature is off.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      // Row-count tracking does a RocksDB get() before every put()/
      // delete() purely to maintain the numTotalStateRows metric, which
      // nothing in this engine reads — on the update-heavy transaction
      // buffer that is one extra point lookup per event. Measured (r17
      // within-JVM alternating A/B, 4-5 rounds each, on the since-removed
      // state-v2 buffer): 0.90× on its streamed replay, 0.94× on its
      // batch build. Scale-independent: the saved work grows with event
      // count. Re-enable per session when the metric is wanted.
      .config("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "false")
      // Generated-class cache (static; read once, when the JVM first
      // touches CodeGenerator). Spark's default of 100 is a Guava cache
      // split into 4 LRU segments of ~25 entries, keyed by (context class
      // loader, code body), so driver and task threads each hold their
      // own copy of a class. A streaming run cycles its classes through
      // ingest, merge and the SQL shapes once per micro-batch, which
      // evicted nearly every one before its next use: a cdcbench trickle
      // timed phase (seed 2) compiled 204 classes, against 20 with this
      // setting. A whole cdcbench run holds 168-238 keys, so no segment
      // fills; see README "Session settings".
      .config("spark.sql.codegen.cache.maxEntries", "2048")
      // Delete the files of a reliable Dataset.checkpoint once the
      // checkpointed RDD is garbage collected (Checkpoints.cut under
      // spark.graft.checkpoint.reliableDir). Read once, when the
      // SparkContext starts, so it cannot be scoped to that arm; local
      // checkpoints are unaffected.
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")

  /** Path of a testdata table under an sf dir. */
  def tablePath(sfDir: String, name: String): String = {
    val dir = if (sfDir.endsWith("/")) sfDir.dropRight(1) else sfDir
    s"$dir/$name.parquet"
  }
}
